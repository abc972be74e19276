package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.corpus.CorpusGen
import graft.graph.IcebergLite
import graft.pipeline.{Page, Pipeline}
import graft.umls.MiniUmls

/** `kg_batch`: the north-rule batch job, warm. Set-up writes a pages
  * table of `PageFiles` parquet files holding `genPage(n)` for a
  * seed-chosen window of bulk pages (16 in 17 English). One operation
  * reads that table, runs `Pipeline.run`, writes the triples with
  * `IcebergLite.write` into a fresh snapshot root, rolls them up with
  * `Pipeline.graph` and counts the graph. Each operation is checked
  * against the generator's ground truth (`genPage(n)._3`).
  */
object KgBatch {
  val PagesPerJob = 50000L
  val PageFiles = 32
  // From the warm-up curve in the README: the first job of a JVM takes
  // over three times as long as a warm one and the next four still drift
  // down while the JIT compiles the kernel.
  val WarmupJobs = 6

  private val jobIds = new java.util.concurrent.atomic.AtomicInteger()

  private final case class Job(ms: Double, writeMs: Double, rollupMs: Double, ok: Boolean)

  private final class Kg(spark: SparkSession, work: File, first: Long) {
    import spark.implicits._
    private val pagesDir = new File(work, "pages").getPath
    private val tablesT0 = System.nanoTime()
    val umls = MiniUmls.tables
    val tablesS: Double = Clock.ms(tablesT0) / 1e3
    private val bc = spark.sparkContext.broadcast(umls)
    private val cols = Seq("subj_cui", "pred", "obj_cui", "url", "sentNo")

    if (!new File(pagesDir).exists())
      spark.range(first, first + PagesPerJob, 1, PageFiles)
        .map(i => CorpusGen.genPage(i)._1).write.parquet(pagesDir)

    /** The generator's triples for the window, and their digest. */
    val truthRows: Set[(String, String, String, String, Int)] =
      (first until first + PagesPerJob).iterator.flatMap(i => CorpusGen.genPage(i)._3)
        .map(t => (t.subj_cui, t.pred, t.obj_cui, t.url, t.sentNo)).toSet
    val truth: Digest = Digest.ofRows(truthRows.iterator.map(_.productIterator.toSeq))
    private val truthGraphRows = truthRows.map(t => (t._1, t._2, t._3)).size.toLong

    def pages = spark.read.parquet(pagesDir).as[Page]
    var lastRoot: File = _

    /** One timed operation, then its (untimed) check. */
    def job(): Job = {
      if (lastRoot != null) Files.delete(lastRoot)
      // a fresh root per job: a committed one would make the write a
      // metadata-only resume
      val root = new File(work, s"graph/${jobIds.incrementAndGet()}")
      lastRoot = root
      val t0 = System.nanoTime()
      val snap = IcebergLite.write(Pipeline.run(pages)(spark), root.getPath)
      val t1 = System.nanoTime()
      val graphRows = Pipeline.graph(IcebergLite.read(spark, root.getPath), bc)(spark).count()
      val t2 = System.nanoTime()
      val got = Digest.of(IcebergLite.read(spark, root.getPath).select(cols.map(col): _*))
      val ok = got == truth && graphRows == truthGraphRows &&
        snap.partitions.map(_.rows).sum == truth.rows
      Job((t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, ok)
    }

    /** Precision and recall of the last snapshot against the truth. */
    def precisionRecall(): (Double, Double) = {
      val got = IcebergLite.read(spark, lastRoot.getPath).select(cols.map(col): _*)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getInt(4))).toSet
      val hit = (got intersect truthRows).size.toDouble
      (hit / got.size, hit / truthRows.size)
    }
  }

  /** Operations until `seconds` have passed; every one counts. */
  private def window(kg: Kg, seconds: Int): Seq[Job] = {
    val t0 = System.nanoTime()
    val jobs = Seq.newBuilder[Job]
    while (Clock.ms(t0) < seconds * 1e3) jobs += kg.job()
    jobs.result()
  }

  private def perS(jobs: Seq[Job]): Double = jobs.length * PagesPerJob / (jobs.map(_.ms).sum / 1e3)

  def run(a: Args): Result = {
    val work = new File("kg").getAbsoluteFile
    val first = 1000L + Seeds.below(a.seed, 1000000000L)
    var spark = Session.create(a.cores)
    val kg = new Kg(spark, work, first)
    val setupS = a.setupDone()
    val warm = (1 to WarmupJobs).map(_ => kg.job())
    val timed = window(kg, a.seconds)
    var attempted = warm.length + timed.length
    var failed = (warm ++ timed).count(!_.ok)
    val info = Seq("pages_per_job" -> PagesPerJob.toString, "first_page" -> first.toString,
      "warmup_ms" -> warm.map(_.ms).mkString("[", ",", "]"),
      "timed_ms" -> timed.map(_.ms).mkString("[", ",", "]"))
    val metrics =
      if (!a.trace) {
        val (precision, recall) = kg.precisionRecall()
        Seq(
          ("setup_s", setupS, "s"),
          ("throughput_per_s", perS(timed), "1/s"),
          ("latency_p50_ms", Stats.median(timed.map(_.ms)), "ms"),
          ("triple_precision", precision, "ratio"),
          ("triple_recall", recall, "ratio"),
          ("live_heap_mb", Jvm.liveHeapMb(), "MB"))
      } else {
        // untraced and traced jobs alternate, so JIT drift and host noise
        // fall on both alike
        val probe = new SparkProbe(spark)
        val t0 = System.nanoTime()
        val both = Seq.newBuilder[(Boolean, Job)]
        var k = 0
        while (Clock.ms(t0) < a.seconds * 1e3) {
          val traced = k % 2 == 1
          if (traced) probe.attach()
          both += traced -> kg.job()
          if (traced) probe.detach()
          k += 1
        }
        val (tracedPairs, untracedPairs) = both.result().partition(_._1)
        val traced = tracedPairs.map(_._2)
        val counts = probe.snapshot()
        val twMs = traced.map(_.ms).sum
        val files = Files.walk(new File(kg.lastRoot, "data")).filter(_.getName.endsWith(".parquet"))
        val runS = Stats.median((1 to 2).map { _ =>
          val t0 = System.nanoTime(); Pipeline.run(kg.pages)(spark).count(); Clock.ms(t0) / 1e3
        })
        val docs = (first until first + PagesPerJob by 16).iterator
          .map(CorpusGen.genPage(_)._1).filter(_.lang == "en").take(3000)
          .map(p => KernelTrace.Doc(p.url, p.text, Some(p.html))).toVector
        val kernel = KernelTrace.measure(docs, kg.umls, passes = 4)
        // the same job on one core: T1 / (cores x T_cores)
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        spark = Session.create(1)
        val kg1 = new Kg(spark, work, first)
        val one = (1 to 2).map(_ => kg1.job())
        val extra = traced ++ untracedPairs.map(_._2) ++ one
        attempted += extra.length
        failed += extra.count(!_.ok)
        counts.metrics(traced.length, twMs, a.cores) ++ kernel ++ Seq(
          ("spark.scaling_eff_1to4", one.last.ms / (a.cores * Stats.median(timed.map(_.ms))),
            "ratio"),
          ("pipeline.run_s", runS, "s"),
          ("graph.write_s", Stats.median(traced.map(_.writeMs)) / 1e3, "s"),
          ("graph.rollup_s", Stats.median(traced.map(_.rollupMs)) / 1e3, "s"),
          ("graph.files", files.length.toDouble, "count"),
          ("graph.bytes_per_triple", files.map(_.length).sum.toDouble / kg.truth.rows, "B"),
          ("umls.tables_s", kg.tablesS, "s"),
          ("umls.index_entries", kg.umls.firstWordIndex.valuesIterator.map(_.length).sum.toDouble,
            "count"),
          Layers.overhead(perS(untracedPairs.map(_._2)), perS(traced)))
      }
    spark.stop()
    Result(failed == 0, attempted, failed, metrics, info)
  }
}
