package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Command line of the harness JVM (the launcher, run.py, fills it in). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    launchedAtMs: Long) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  /** The instant the workload became ready for its first operation. */
  def setupDone(): Double = (System.currentTimeMillis() - launchedAtMs) / 1000.0
}

object Args {
  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("launched-at-ms").toLong)
  }
}

/** What one run reports. `metrics` holds (name -> (value, unit)); `info`
  * is free-form diagnosis (sample counts, JVM flags) printed beside it.
  */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)], info: Seq[(String, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val in = info.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms,"info":$in}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric is $v")
    else java.lang.Double.toString(v)
  def arr(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** True when at least ten samples lie above quantile q. */
  def tailReportable(n: Int, q: Double): Boolean = n * (1 - q) >= 10
}

object Clock {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

object Seeds {
  /** splitmix64: the same seed gives the same stream on every JVM. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  def below(seed: Long, n: Long): Long = (mix(seed) >>> 1) % n
}

object Jvm {
  /** Heap in use after forced full collections, in MB. The second pass
    * collects what the first one's finalisation and cleaner threads freed.
    */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(100)
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def flags: Seq[String] = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
  }
}

object Session {
  /** The session shape of the program's own bench main: local[cores] with
    * one shuffle partition per core and adaptive execution on.
    */
  def create(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** An order-insensitive digest of a DataFrame: its row count and the sum
  * of a hash over every column of every row. Computing it executes the
  * whole plan, every output column included.
  */
final case class Digest(rows: Long, hash: Long)

object Digest {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  def of(df: DataFrame): Digest = {
    val r = df.select(pmod(xxhash64(df.columns.map(df(_)).toIndexedSeq: _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1))
  }
  /** The digest of rows held in this JVM, equal to `of` over the same
    * rows in a DataFrame (the same hash expression, evaluated here).
    */
  def ofRows(rows: Iterator[Seq[Any]]): Digest = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      n += 1
      h += java.lang.Math.floorMod(
        XxHash64(r.map(Literal(_)), 42L).eval(null).asInstanceOf[Long], 2147483647L)
    }
    Digest(n, h)
  }
}

/** Recursive delete of a directory the run created. */
object Files {
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }
  def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    else Seq(f)
}
