package perfbench

import java.io.{BufferedReader, InputStreamReader}

import graft.api.GraftServer
import graft.umls.MiniUmls

/** The annotation server JVM of `annotate_service`: `GraftServer.start`
  * over a broadcast of `MiniUmls.scaledTables(n)`, on an ephemeral port.
  * It prints `READY {json}` when it serves, then obeys its standard input:
  * `heap` prints `HEAP <MB in use after a full GC>`, `stop` (or the end of
  * input) stops the server and exits.
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val nExtra = args(0).toInt
    val t0 = System.nanoTime()
    val spark = Session.create(Runtime.getRuntime.availableProcessors())
    val t1 = System.nanoTime()
    val tables = MiniUmls.scaledTables(nExtra)
    val t2 = System.nanoTime()
    val bc = spark.sparkContext.broadcast(tables)
    val t3 = System.nanoTime()
    val handle = GraftServer.start(spark, 0, umls = Some(bc))
    val t4 = System.nanoTime()
    val tablesS = (t2 - t1) / 1e9
    val nodelay = Option(System.getProperty("sun.net.httpserver.nodelay"))
    println("READY " + Seq(
      "port" -> handle.port.toString,
      "tables_s" -> Json.num(tablesS),
      "setup_split_s" -> Seq(t1 - t0, t2 - t1, t3 - t2, t4 - t3).map(d => Json.num(d / 1e9))
        .mkString("[", ",", "]"),
      "index_entries" -> tables.firstWordIndex.valuesIterator.map(_.length).sum.toString,
      "nodelay_property" -> nodelay.map(Json.str).getOrElse("null"),
      "jvm_flags" -> Json.arr(Jvm.flags)
    ).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))
    System.out.flush()
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "stop") {
      if (line == "heap") { println(s"HEAP ${Jvm.liveHeapMb()}"); System.out.flush() }
      line = in.readLine()
    }
    handle.stop()
    spark.stop()
  }
}
