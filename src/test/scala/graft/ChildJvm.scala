package graft

import scala.jdk.CollectionConverters._

/** Runs a main of the test classpath in a JVM of its own, for cases that
  * need a SparkContext of their own (the shared test context stays up).
  */
object ChildJvm {

  /** The exit code and output lines (stdout and stderr) of `mainClass`. */
  def run(mainClass: String): (Int, Vector[String]) = {
    val mx = java.lang.management.ManagementFactory.getRuntimeMXBean
    val jvmArgs = {
      val in = mx.getInputArguments.asScala.toVector
      in.indices.flatMap { i =>
        val a = in(i)
        if (a == "--add-opens" && i + 1 < in.length) Seq(a, in(i + 1))
        else if (a.startsWith("--add-opens=") || a.startsWith("-D")) Seq(a)
        else Seq.empty
      }
    }
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), mainClass)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toVector
    (proc.waitFor(), out)
  }
}
