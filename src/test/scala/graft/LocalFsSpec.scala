package graft

import java.net.URI
import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.graph.{IcebergLite, LocalFs}
import graft.ops.SnapshotCache
import graft.pipeline.Pipeline
import graft.umls.{MiniUmls, UmlsIngest}

/** The program writers create their files without a child process and
  * without `.crc` side files, and with the modes Hadoop's stock local
  * file system gives them.
  */
class LocalFsSpec extends AnyFunSuite with SparkTestBase {

  private def tmpDir(): Path = Files.createTempDirectory("graft_localfs")
  private def rm(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** The commands of every process the JVM starts while `body` runs. */
  private def commandsStarted(body: => Unit): Vector[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft_localfs", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toVector
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def small: DataFrame = {
    import spark.implicits._
    (0 until 200).map(i => (s"C$i", "treats", s"C${i + 1}", s"u$i", i)).toDF(
      "subj_cui", "pred", "obj_cui", "url", "sentNo").repartition(4)
  }

  test("the program writers start no chmod process") {
    implicit val s = spark
    val root = tmpDir()
    val sf = tmpDir().toString
    val triples = Pipeline.run(CorpusGen.pages(spark, 40)).cache()
    triples.count()
    val started = commandsStarted {
      IcebergLite.write(triples, root.resolve("graph").toString, nBuckets = 8)
      SnapshotCache.materialize(spark, sf, "localfs_probe")(triples).count()
      UmlsIngest.dump(MiniUmls.tables, root.resolve("umls").toString)
    }
    assert(!started.exists(_.startsWith("chmod")), started.mkString("\n"))
    assert(Files.list(root.resolve("graph/data")).count() > 1)
    // the probe sees the forks the stock file system makes
    if (!NativeCodeLoader.isNativeCodeLoaded) {
      val stock = commandsStarted(small.write.parquet(root.resolve("stock").toString))
      assert(stock.count(_.startsWith("chmod")) >= 4, stock.mkString("\n"))
    }
    triples.unpersist()
    rm(root); rm(Path.of(SnapshotCache.baseFor(sf, "localfs_probe"))); rm(Path.of(sf))
  }

  test("files and directories get the modes of the stock local file system") {
    val root = tmpDir()
    val df = small.withColumn("part_bucket", pmod(col("sentNo"), lit(3)))
    df.write.partitionBy("part_bucket").parquet(root.resolve("stock").toString)
    df.write.options(LocalFs.writerOptions).partitionBy("part_bucket")
      .parquet(root.resolve("forkfree").toString)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    def modes(dir: Path): Map[String, String] = {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.map { p =>
        uuid.replaceAllIn(dir.relativize(p).toString, "*") ->
          java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
      finally walk.close()
    }
    val stock = modes(root.resolve("stock"))
    val forkFree = modes(root.resolve("forkfree"))
    assert(stock.keys.exists(_.endsWith(".parquet")) && stock.keys.exists(_.endsWith(".crc")))
    assert(stock.keys.count(_.startsWith("part_bucket=")) > 3)
    // the program's writes leave out the `.crc` side files, and nothing else
    assert(!forkFree.keys.exists(_.endsWith(".crc")), forkFree.keys.mkString("\n"))
    assert(forkFree == stock.filter { case (p, _) => !p.endsWith(".crc") })
    rm(root)
  }

  test("set-ID directories and the sticky bit keep Hadoop's chmod semantics") {
    val root = tmpDir()
    val conf = new Configuration()
    val stock = new RawLocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    val forkFree = new LocalFs.Raw()
    forkFree.initialize(URI.create("file:///"), conf)
    def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    // (kind, set-group-ID before, requested mode)
    val cases = Seq(("file", false, "644"), ("file", false, "600"), ("dir", false, "755"),
      ("dir", true, "750"), ("dir", false, "1777"))
    cases.zipWithIndex.foreach { case ((kind, setGid, perm), i) =>
      val got = Seq(stock, forkFree).map { fs =>
        val p = root.resolve(s"$i-${fs.getClass.getSimpleName}")
        if (kind == "dir") Files.createDirectory(p) else Files.createFile(p)
        if (setGid) new ProcessBuilder("chmod", "2755", p.toString).start().waitFor()
        fs.setPermission(new HPath(p.toUri), new FsPermission(Integer.parseInt(perm, 8).toShort))
        mode(p)
      }
      assert(got(0) == got(1), f"$kind $perm: stock ${got(0)}%o, fork-free ${got(1)}%o")
      if (perm.length == 4) assert((got(1) & 0x200) != 0, f"sticky bit lost: ${got(1)}%o")
      if (setGid) assert((got(1) & 0x400) != 0, f"set-group-ID bit lost: ${got(1)}%o")
    }
    rm(root)
  }
}
