package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.{MeasureBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry
import graft.corpus.CorpusGen
import graft.graph.IcebergLite
import graft.ops.{CorpusOps, DocOps}
import graft.pipeline.{Page, Pipeline}
import graft.umls.MiniUmls

/** The measurement tool. It is not part of the driver contract
  * (`graft.Bench`, `graft.Verify`) and never feeds the gate.
  *
  * {{{
  * sbt "runMain graft.tools.Measure queries <outDir> [query ...]"
  * sbt "runMain graft.tools.Measure scale [nPages]"
  * sbt "runMain graft.tools.Measure kgop [rounds]"
  * sbt "runMain graft.tools.Measure tally [subjects] [tasks]"
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
  * `kgop` attributes the `kg_batch` operation (see [[kgop]]) job by job
  * at N and 4N cores, each level in its own child JVM, and writes
  * `BENCH/kgop_<N>to<4N>.json`.
  *
  * `tally` measures the driver heap that an `IcebergLite.write`'s
  * metrics tally retains at a number of distinct subjects (see
  * [[tally]]) and writes `BENCH/tally_heap.json`.
  *
  * Every mode but `tally` runs `local[c]` with c = SPARK_GRAFT_CPUS, else the JVM's
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
    case "kgop" :: rest if rest.length <= 1 =>
      kgop(rest.headOption.fold(Runs)(_.toInt))
    case "kgop-child" :: level :: sizes =>
      kgopChild(level.toInt, sizes.map(_.toLong))
    case "tally" :: rest if rest.length <= 2 =>
      tally(rest.headOption.fold(4400000)(_.toInt), rest.lift(1).fold(64)(_.toInt))
    case _ =>
      System.err.println("usage: graft.tools.Measure queries <outDir> [query ...] | " +
        "scale [nPages] | kgop [rounds] | tally [subjects] [tasks]")
      sys.exit(2)
  }

  // ---- queries -------------------------------------------------------

  private final case class StageRow(job: Int, stage: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, shuffleBytes: Long)

  /** A job's start and end, as the listener events stamp them (epoch ms;
    * the end is the start until the job ends), and the job description
    * it was submitted under ("" if none).
    */
  private final case class JobRow(job: Int, startMs: Long, endMs: Long, desc: String)

  /** Jobs started and stages completed since the last [[take]]. */
  private final class StageLog extends SparkListener {
    private val stageJob = mutable.Map[Int, Int]()
    private val jobs = mutable.LinkedHashMap[Int, JobRow]()
    private val rows = mutable.ArrayBuffer[StageRow]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = JobRow(e.jobId, e.time, e.time, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val tm = si.taskMetrics
      rows += StageRow(stageJob.getOrElse(si.stageId, -1), si.stageId, si.name,
        si.numTasks, tm.executorRunTime, tm.executorCpuTime / 1000000L,
        tm.shuffleWriteMetrics.bytesWritten)
    }

    /** Waits for every posted event, then hands over and forgets the log. */
    def take(sc: SparkContext): (Vector[JobRow], Vector[StageRow]) = {
      MeasureBus.drain(sc)
      synchronized {
        val r = (jobs.values.toVector, rows.sortBy(_.stage).toVector)
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
          "wall_ms" -> wallMs, "jobs" -> jobs.size, "job_ids" -> jobs.map(_.job),
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

  // ---- kgop ----------------------------------------------------------

  /** Pages per operation at the lower level, and files of its pages table. */
  private val KgopPages = 50000L
  private val KgopFiles = 32

  /** Warm-up and timed operations per size in one child JVM. The first
    * size pays the JIT's compilation of the kernel; a later size in the
    * same JVM needs only a short warm-up.
    */
  private val KgopWarm = Seq(8, 2)
  private val KgopTimed = Seq(12, 6)

  /** A Spark job within one operation: the operation's phase ("write":
    * pages read, `Pipeline.run` and `IcebergLite.write`; "rollup":
    * `Pipeline.graph` and count), its stages, tasks, wall time from its
    * own start and end events, summed task run time, and the driver time
    * between the previous job's end (or the operation's start) and its
    * start.
    */
  private final case class OpJob(phase: String, stages: String, tasks: Int, wallMs: Long,
      taskMs: Long, gapMs: Long)

  /** One timed operation: wall, time outside every job, the processes
    * the JVM started during it (by command name), and its jobs.
    */
  private final case class Op(ms: Long, driverMs: Long, processes: Map[String, Int],
      jobs: Vector[OpJob])

  /** The `kg_batch` operation shape, job by job. At each level of
    * [[scaleLevels]], in rounds (lo, hi, lo, hi, ...), a child JVM
    * (`kgop-child`, the heap of perfbench's JVMs) writes a pages table of
    * `genPage(1000..)` pages, `KgopFiles` parquet files per
    * `KgopPages`, and times operations: read the table → `Pipeline.run` →
    * `IcebergLite.write` into a fresh root → `Pipeline.graph` over the
    * snapshot → count. The low level runs N = `KgopPages` pages; the high
    * level runs N (strong scaling) and N·hi/lo (weak scaling). A JFR
    * recording of `jdk.ProcessStart` in the child counts the processes
    * each operation starts.
    *
    * Per level and size the report has the operation's median and
    * spread, its jobs in order (stage names, tasks, medians of wall, task
    * and preceding driver time), the driver time outside jobs, and the
    * processes per operation. Strong efficiency is T_lo(N) / (T_hi(N) ·
    * hi/lo), weak efficiency T_lo(N) / T_hi(N·hi/lo), each per round and
    * as min/median/max.
    */
  private def kgop(rounds: Int): Unit = {
    val (lo, hi) = scaleLevels(cores)
    val weak = KgopPages * hi / lo
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(a => a.startsWith("-Xm") || a.startsWith("-agentlib")).toSeq
    def child(level: Int, sizes: Seq[Long]): Seq[(Long, Vector[Op])] = {
      val err = Files.createTempFile("graft_kgop", ".log")
      val cmd = Seq(javaBin, "-Xms2g", "-Xmx2g") ++ jvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.tools.Measure",
          "kgop-child", level.toString) ++ sizes.map(_.toString)
      val p = new ProcessBuilder(cmd: _*).redirectError(err.toFile).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      val code = p.waitFor()
      val line = out.linesIterator.find(_.startsWith(KgopLine))
      if (code != 0 || line.isEmpty) {
        val log = Files.readAllLines(err).asScala.takeRight(40).mkString("\n")
        throw new IllegalStateException(s"kgop child local[$level] exited $code:\n$log")
      }
      Files.delete(err)
      new ObjectMapper().readTree(line.get.stripPrefix(KgopLine)).elements().asScala.map { m =>
        m.get("pages").asLong -> m.get("ops").elements().asScala.map { o =>
          Op(o.get("ms").asLong, o.get("driver_ms").asLong,
            o.get("processes").properties().asScala.map(f => f.getKey -> f.getValue.asInt).toMap,
            o.get("jobs").elements().asScala.map(j =>
              OpJob(j.get("phase").asText, j.get("stages").asText, j.get("tasks").asInt,
                j.get("wall_ms").asLong, j.get("task_ms").asLong, j.get("gap_ms").asLong))
              .toVector)
        }.toVector
      }.toVector
    }
    // (round, level, pages) -> operations
    val runs = (1 to rounds).flatMap { r =>
      val plan = Seq(lo -> Seq(KgopPages), hi -> Seq(KgopPages, weak).distinct)
      (if (lo == hi) plan.tail else plan).flatMap {
        case (lvl, sizes) =>
          val got = child(lvl, sizes)
          got.foreach { case (n, ops) =>
            println(f"[measure] kgop round $r local[$lvl] $n pages: median op " +
              f"${median(ops.map(_.ms.toDouble))}%.0f ms")
          }
          got.map { case (n, ops) => (r, lvl, n) -> ops }
      }
    }.toMap

    def med(xs: Seq[Long]): Double = median(xs.map(_.toDouble))
    def spread(xs: Seq[Double]): ListMap[String, Any] =
      obj("runs" -> xs, "min" -> xs.min, "median" -> median(xs), "max" -> xs.max)
    def level(lvl: Int, n: Long): ListMap[String, Any] = {
      val ops = (1 to rounds).flatMap(r => runs((r, lvl, n)))
      val nJobs = ops.map(_.jobs.length)
      val jobs = (0 until nJobs.max).map { k =>
        val js = ops.flatMap(_.jobs.lift(k))
        val mode = js.groupBy(j => (j.phase, j.stages)).maxBy(_._2.length)._1
        obj("job" -> k, "phase" -> mode._1, "stages" -> mode._2,
          "ops" -> js.length, "tasks" -> med(js.map(_.tasks.toLong)),
          "wall_ms" -> med(js.map(_.wallMs)), "task_ms" -> med(js.map(_.taskMs)),
          "gap_before_ms" -> med(js.map(_.gapMs)))
      }
      val commands = ops.flatMap(_.processes.keys).distinct.sorted
      obj("level" -> s"local[$lvl]", "pages" -> n, "ops" -> ops.length,
        "op_ms" -> spread((1 to rounds).map(r => med(runs((r, lvl, n)).map(_.ms)))),
        "jobs_per_op" -> obj("min" -> nJobs.min, "max" -> nJobs.max),
        "job_wall_ms" -> med(ops.map(_.jobs.map(_.wallMs).sum)),
        "task_ms" -> med(ops.map(_.jobs.map(_.taskMs).sum)),
        "driver_ms" -> med(ops.map(_.driverMs)),
        "processes_per_op" -> med(ops.map(_.processes.values.sum.toLong)),
        "processes_by_command" -> obj(commands.map(c =>
          c -> med(ops.map(_.processes.getOrElse(c, 0).toLong))): _*),
        "jobs" -> jobs)
    }
    // strong: N pages at both levels, ideal T_hi = T_lo·lo/hi; weak:
    // N·hi/lo pages at hi, ideal T_hi = T_lo
    def eff(hiPages: Long, ideal: Double): Seq[Double] = (1 to rounds).map(r =>
      med(runs((r, lo, KgopPages)).map(_.ms)) * ideal / med(runs((r, hi, hiPages)).map(_.ms)))
    val strong = eff(KgopPages, lo.toDouble / hi)
    val weakEff = eff(weak, 1.0)
    val json = obj("tool" -> "graft.tools.Measure", "mode" -> "kgop", "sha" -> sha,
      "nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> cores,
      "rounds" -> rounds, "levels" -> Seq(lo, hi),
      "warmup_ops" -> KgopWarm, "timed_ops" -> KgopTimed,
      "strong_efficiency" -> spread(strong),
      "weak_efficiency" -> spread(weakEff),
      "runs" -> (Seq(lo -> KgopPages, hi -> KgopPages, hi -> weak).distinct
        .map { case (l, n) => level(l, n) }))
    val out = Paths.get("BENCH", s"kgop_${lo}to$hi.json")
    write(out, json)
    println(f"[measure] kgop local[$lo] -> local[$hi]: strong efficiency " +
      f"${median(strong)}%.3f, weak ${median(weakEff)}%.3f; wrote $out")
  }

  private val KgopLine = "[kgop] "

  /** One child JVM of [[kgop]]: operations at `level` cores for each page
    * count, printed as one JSON line.
    */
  private def kgopChild(level: Int, sizes: Seq[Long]): Unit = {
    implicit val spark: SparkSession = session(level)
    import spark.implicits._
    val sc = spark.sparkContext
    val work = Files.createTempDirectory("graft_kgop")
    val bc = sc.broadcast(MiniUmls.tables)
    val log = new StageLog
    sc.addSparkListener(log)
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    val out = try sizes.zipWithIndex.map { case (n, i) =>
      val pagesDir = work.resolve(s"pages-$n").toString
      spark.range(1000, 1000 + n, 1, (KgopFiles * n / KgopPages).toInt)
        .map(k => CorpusGen.genPage(k)._1).write.parquet(pagesDir)
      val ops = (1 to KgopWarm(i) + KgopTimed(i)).map { k =>
        val root = work.resolve(s"graph-$n-$k").toString
        log.take(sc)
        val t0 = System.currentTimeMillis()
        sc.setJobDescription("write")
        IcebergLite.write(Pipeline.run(spark.read.parquet(pagesDir).as[Page]), root)
        sc.setJobDescription("rollup")
        Pipeline.graph(IcebergLite.read(spark, root), bc).count()
        val t1 = System.currentTimeMillis()
        sc.setJobDescription(null)
        val (jobs, stages) = log.take(sc)
        deleteTree(Paths.get(root))
        (t0, t1, jobs, stages)
      }.drop(KgopWarm(i))
      n -> ops
    } finally recording.stop()
    val starts = {
      val file = work.resolve("processes.jfr")
      recording.dump(file)
      recording.close()
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toVector
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => e.getStartTime.toEpochMilli -> e.getString("command").takeWhile(_ != ' '))
    }
    val json = out.map { case (n, ops) =>
      obj("pages" -> n, "ops" -> ops.map { case (t0, t1, jobs, stages) =>
        var last = t0
        var busy = 0L
        val js = jobs.sortBy(_.startMs).map { j =>
          val gap = math.max(0L, j.startMs - last)
          busy += math.max(0L, j.endMs - math.max(j.startMs, last))
          last = math.max(last, j.endMs)
          val own = stages.filter(_.job == j.job)
          obj("phase" -> j.desc, "stages" -> own.map(_.name).mkString(" | "),
            "tasks" -> own.map(_.tasks).sum,
            "wall_ms" -> (j.endMs - j.startMs), "task_ms" -> own.map(_.runMs).sum,
            "gap_ms" -> gap)
        }
        val procs = starts.filter { case (t, _) => t >= t0 && t <= t1 }
          .groupBy(_._2).map { case (c, v) => c -> v.length }
        obj("ms" -> (t1 - t0), "driver_ms" -> (t1 - t0 - busy), "processes" -> procs,
          "jobs" -> js)
      })
    }
    spark.stop()
    deleteTree(work)
    println(KgopLine + new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(json))
  }

  // ---- tally ---------------------------------------------------------

  /** The driver heap an `IcebergLite.write` metrics tally retains once it
    * has merged `tasks` task updates over `subjects` distinct synthetic
    * subject CUIs (`C0000000`, ...; UMLS has about 4.4M concepts) into
    * 32 buckets. Task t covers subjects t·s/tasks up to (t+2)·s/tasks, so
    * every subject arrives in two updates, and each update is dropped
    * once merged, as the scheduler drops a task's result. Beside it, a
    * plain `java.util.HashSet[String]` of the same subjects. Retained
    * heap is used heap after full GCs, minus the same before.
    */
  private def tally(subjects: Int, tasks: Int): Unit = {
    require(subjects > 0 && tasks > 0, s"need subjects and tasks > 0, got $subjects, $tasks")
    val buckets = 32
    def cui(k: Long): String = { val d = k.toString; "C" + "0000000".drop(d.length) + d }
    def used(): Long = {
      (1 to 3).foreach(_ => System.gc())
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    val base = used()
    val driver = new IcebergLite.Tally(buckets)
    var mergeNs = 0L
    for (t <- 0 until tasks) {
      val update = new IcebergLite.Tally(buckets)
      for (k <- t.toLong * subjects / tasks until (t + 2L) * subjects / tasks) {
        val s = cui(k % subjects)
        val b = Math.floorMod(XXH64.hashUTF8String(UTF8String.fromString(s), 42L), buckets.toLong)
        update.add(Row(s, "p", "o", "u", 0, b.toInt))
      }
      val t0 = System.nanoTime()
      driver.merge(update)
      mergeNs += System.nanoTime() - t0
    }
    val tallyBytes = used() - base
    val metrics = driver.value
    require(metrics.map(_.nSubjCuis).sum == subjects, "every subject counted once")
    val plainBase = used()
    val plain = new java.util.HashSet[String]
    for (k <- 0L until subjects) plain.add(cui(k))
    val plainBytes = used() - plainBase
    require(plain.size == subjects)
    val mb = (b: Long) => math.round(b / 1e5) / 10.0
    val json = obj("tool" -> "graft.tools.Measure", "mode" -> "tally", "sha" -> sha,
      "subjects" -> subjects, "tasks" -> tasks, "buckets" -> buckets,
      "tally_retained_mb" -> mb(tallyBytes), "tally_bytes_per_subject" -> tallyBytes / subjects,
      "merge_ms" -> mergeNs / 1000000, "plain_hashset_mb" -> mb(plainBytes))
    println("[measure] tally " + write(Paths.get("BENCH", "tally_heap.json"), json))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toVector.reverseIterator.foreach(Files.delete)
    finally walk.close()
  }

  private def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    (v((v.length - 1) / 2) + v(v.length / 2)) / 2
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
