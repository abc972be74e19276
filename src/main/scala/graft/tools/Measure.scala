package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.{MeasureBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry
import graft.corpus.CorpusGen
import graft.ops.{CorpusOps, DocOps}
import graft.pipeline.Pipeline

/** The measurement tool. It is not part of the driver contract
  * (`graft.Bench`, `graft.Verify`) and never feeds the gate.
  *
  * {{{
  * sbt "runMain graft.tools.Measure queries <outDir> [query ...]"
  * sbt "runMain graft.tools.Measure scale [nPages]"
  * }}}
  *
  * `queries` runs each query (default: the bench headline list) 3 times
  * on SPARK_GRAFT_SF_DIR after an sf0.001 warm-up. It writes the
  * formatted plan to `<outDir>/<query>.txt` and, to
  * `<outDir>/measure.json`, every run's build/execute split with its
  * jobs, stages, tasks, task run/CPU time, shuffle bytes and serial
  * fraction (task run time / (wall * cores)).
  *
  * `scale` runs the KG pipeline at N and 4N cores (see [[scaleLevels]]),
  * a JIT warm-up then 3 interleaved rounds, next to a pure-CPU loop at
  * the same levels as the box's own ceiling, and writes
  * `BENCH/scale_<N>to<4N>.json`.
  *
  * Both modes run `local[c]` with c = SPARK_GRAFT_CPUS, else the JVM's
  * available processors.
  */
object Measure {

  /** graft.Bench's headline list. */
  private val headline = Seq(
    "q01_pricing_summary", "q02_top_revenue_orders", "q05_supplier_distinct_parts",
    "q06_window_top_orders", "q08_event_sessions",
    "q11_cube_flags", "q14_string_funcs", "q16_date_buckets", "q17_filtered_agg",
    "q20_lag_delta", "q27_skew_safe_distinct", "q28_asof_join",
    "doc_token_count", "doc_token_count_bpe", "doc_fingerprint",
    "doc_repetition", "dedup_exact",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_token_jaccard",
    "dedup_cc_clusters",
    "ann_topk_bruteforce", "ann_ivf",
    "doc_quality_filter", "corpus_vocab", "corpus_train_split",
    "corpus_decontaminate", "corpus_sampling_plan", "dedup_canonical",
    "doc_pii_scrub", "doc_lang_id")

  /** Timed runs per query, and interleaved rounds per scale level. */
  val Runs = 3

  private val warmDir = "/root/testdata/sf0.001"

  /** Snapshot-materialized entries: the entry's own plan is a parquet
    * read of the snapshot, the plan that costs time is this inner compute.
    */
  private val innerCompute: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_minhash_lsh" -> ((s, d) => DocOps.minhashCandidatePairs(s, d)),
    "dedup_cc_clusters" -> DocOps.ccClustersCompute,
    "corpus_decontaminate" -> CorpusOps.decontaminateCompute,
    "corpus_sampling_plan" -> CorpusOps.samplingPlanCompute)

  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def session(c: Int): SparkSession = {
    require(c >= 1, s"core count must be >= 1, got $c")
    val s = SparkSession.builder()
      .master(s"local[$c]")
      .config("spark.sql.shuffle.partitions", c.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "queries" :: outDir :: names =>
      val spark = session(cores)
      try queries(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        Paths.get(outDir), if (names.isEmpty) headline else names)
      finally spark.stop()
    case "scale" :: rest if rest.length <= 1 =>
      scale(rest.headOption.fold(200000L)(_.toLong))
    case _ =>
      System.err.println(
        "usage: graft.tools.Measure queries <outDir> [query ...] | scale [nPages]")
      sys.exit(2)
  }

  // ---- queries -------------------------------------------------------

  private final case class StageRow(job: Int, stage: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, shuffleBytes: Long)

  /** Jobs started and stages completed since the last [[take]]. */
  private final class StageLog extends SparkListener {
    private val stageJob = mutable.Map[Int, Int]()
    private val jobs = mutable.ArrayBuffer[Int]()
    private val rows = mutable.ArrayBuffer[StageRow]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += e.jobId
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val tm = si.taskMetrics
      rows += StageRow(stageJob.getOrElse(si.stageId, -1), si.stageId, si.name,
        si.numTasks, tm.executorRunTime, tm.executorCpuTime / 1000000L,
        tm.shuffleWriteMetrics.bytesWritten)
    }

    /** Waits for every posted event, then hands over and forgets the log. */
    def take(sc: SparkContext): (Vector[Int], Vector[StageRow]) = {
      MeasureBus.drain(sc)
      synchronized {
        val r = (jobs.toVector, rows.sortBy(_.stage).toVector)
        jobs.clear(); rows.clear(); stageJob.clear()
        r
      }
    }
  }

  def queries(spark: SparkSession, sfDir: String, outDir: Path, names: Seq[String]): Unit = {
    val qs = SparkEntry.queries
    val unknown = names.filterNot(qs.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sc = spark.sparkContext
    val c = sc.defaultParallelism
    Files.createDirectories(outDir)
    // JIT/codegen warm-up on the tiny sf, so the first timed run does
    // not pay Catalyst and codegen start-up
    if (Files.isDirectory(Paths.get(warmDir))) names.foreach(n => qs(n)(spark, warmDir).count())

    val log = new StageLog
    sc.addSparkListener(log)
    val entries = try names.map { name =>
      val runs = Vector.fill(Runs) {
        log.take(sc)
        val t0 = System.nanoTime()
        val df = qs(name)(spark, sfDir)
        val t1 = System.nanoTime()
        val n = df.count()
        val t2 = System.nanoTime()
        val (jobs, stages) = log.take(sc)
        val wallMs = (t2 - t0) / 1e6
        val runMs = stages.map(_.runMs).sum
        obj("rows" -> n, "build_ms" -> (t1 - t0) / 1e6, "exec_ms" -> (t2 - t1) / 1e6,
          "wall_ms" -> wallMs, "jobs" -> jobs.size, "job_ids" -> jobs,
          "stages" -> stages.size, "tasks" -> stages.map(_.tasks).sum,
          "task_run_ms" -> runMs, "task_cpu_ms" -> stages.map(_.cpuMs).sum,
          "shuffle_bytes" -> stages.map(_.shuffleBytes).sum,
          "serial_fraction" -> runMs / (wallMs * c),
          "stage_rows" -> stages.map(r => obj("job" -> r.job, "stage" -> r.stage,
            "tasks" -> r.tasks, "run_ms" -> r.runMs, "cpu_ms" -> r.cpuMs,
            "shuffle_bytes" -> r.shuffleBytes, "name" -> r.name)))
      }
      val plan = innerCompute.getOrElse(name, qs(name))(spark, sfDir)
      Files.writeString(outDir.resolve(s"$name.txt"),
        plan.queryExecution.explainString(ExplainMode.fromString("formatted")))
      println(s"[measure] $name: $Runs runs, plan in ${outDir.resolve(s"$name.txt")}")
      obj("query" -> name, "plan" -> s"$name.txt", "runs" -> runs)
    } finally sc.removeSparkListener(log)

    val out = outDir.resolve("measure.json")
    write(out, obj("tool" -> "graft.tools.Measure", "mode" -> "queries",
      "sha" -> sha, "cores" -> c, "sf" -> sfDir, "queries" -> entries))
    println(s"[measure] wrote $out")
  }

  // ---- scale ---------------------------------------------------------

  /** The scaling span N -> 4N for c cores: N = c/4 when c >= 4, else the
    * box cannot hold 4N and the span is 1 -> c.
    */
  def scaleLevels(c: Int): (Int, Int) = if (c >= 4) (c / 4, c / 4 * 4) else (1, c)

  private final case class Sample(level: Int, kgS: Double, triples: Long, cpuS: Double)

  /** Iterations of the pure-CPU loop. */
  private val CpuLoopN = 1000000000L

  private def scale(nPages: Long): Unit = {
    val c = cores
    val (lo, hi) = scaleLevels(c)

    def kg(spark: SparkSession, pages: Long): (Double, Long) = {
      implicit val s: SparkSession = spark
      val t0 = System.nanoTime()
      val n = Pipeline.run(CorpusGen.pages(spark, pages, 128)).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // splitmix64 over a range: no library code, so its efficiency is the
    // most this box gives any job
    def cpuLoop(spark: SparkSession): Double = {
      import spark.implicits._
      val t0 = System.nanoTime()
      spark.range(0, CpuLoopN, 1, 128).map { i =>
        var x = i * 0x9e3779b97f4a7c15L
        x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
        x ^ (x >>> 27)
      }.filter(_ == 42L).count()
      (System.nanoTime() - t0) / 1e9
    }

    // JIT warm-up first: the kernel is pure JVM code and the first ~100k
    // documents pay C2 compilation, which would credit the later level
    val warm = session(hi)
    try { kg(warm, math.min(nPages, 100000L)); cpuLoop(warm) } finally warm.stop()
    // interleaved rounds (lo, hi, lo, hi, ...), one SparkContext at a
    // time: the box's speed drifts over minutes, and interleaving samples
    // the drift alike at both levels
    val samples = Vector.fill(Runs)(Vector(lo, hi)).flatten.map { lvl =>
      val s = session(lvl)
      try {
        kg(s, 5000)
        val (t, n) = kg(s, nPages)
        Sample(lvl, t, n, cpuLoop(s))
      } finally s.stop()
    }
    val counts = samples.map(_.triples).distinct
    require(counts.size == 1, s"triple counts differ across levels: $counts")

    def median(xs: Seq[Double]): Double = {
      val v = xs.sorted
      (v((v.length - 1) / 2) + v(v.length / 2)) / 2
    }
    // per level the times, their min/median/max and the rate at the
    // median; the efficiency (T_N / T_4N) / (4N / N) is taken on medians
    def report(f: Sample => Double, work: Double, unit: String): (ListMap[String, Any], Double) = {
      def ts(lvl: Int) = samples.filter(_.level == lvl).map(f)
      val levels = Seq(lo, hi).distinct.map { lvl =>
        val t = ts(lvl)
        s"local[$lvl]" -> obj("s" -> t, "min" -> t.min, "median" -> median(t),
          "max" -> t.max, unit -> work / median(t))
      }
      (obj(levels: _*), median(ts(lo)) / median(ts(hi)) / (hi.toDouble / lo))
    }
    val (kgJson, kgEff) = report(_.kgS, nPages, "pages_per_s")
    val (cpuJson, cpuEff) = report(_.cpuS, CpuLoopN, "iters_per_s")
    val json = obj("tool" -> "graft.tools.Measure", "mode" -> "scale", "sha" -> sha,
      "nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> c,
      "pages" -> nPages, "triples" -> counts.head, "rounds" -> Runs,
      "levels" -> Seq(lo, hi), "kg" -> kgJson, "kg_efficiency" -> kgEff,
      "cpu_loop" -> cpuJson, "cpu_efficiency" -> cpuEff)
    val out = Paths.get("BENCH", s"scale_${lo}to$hi.json")
    println(write(out, json))
    println(f"[measure] local[$lo] -> local[$hi]: kg efficiency $kgEff%.3f, " +
      f"cpu loop $cpuEff%.3f; wrote $out")
  }

  // ---- JSON and stamp ------------------------------------------------

  /** JSON objects are ListMaps, so fields keep their order. */
  private def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  private def write(out: Path, json: ListMap[String, Any]): String = {
    val text = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(json)
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.writeString(out, text + "\n")
    text
  }

  /** The commit measured, `-dirty` when the tree has local changes. */
  private def sha: String =
    try sys.process.Process(Seq("git", "describe", "--always", "--dirty", "--abbrev=12")).!!.trim
    catch { case NonFatal(_) => "unknown" }
}
