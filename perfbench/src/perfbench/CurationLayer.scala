package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The `ops` layer: the heavy Spark curation leaves of
  * `SparkEntry.queries` on generated sf0.1 tables, measured in the traced
  * run of `annotate_service`, whose load-generator JVM is idle once the
  * server has been measured (the session has the benchmark's usual
  * shape). One operation calls the leaf's query function (build) and
  * executes the DataFrame it returns (exec); the action counts the rows
  * and hashes every column, and the result must equal the digest pinned
  * below for the fixed tables. The first pass warms the JVM up; the
  * second is reported. The seed sets the leaf order within a pass.
  */
object CurationLayer {

  /** (rows, hash) of each leaf on CurationTables, pinned at the commit
    * that introduced this benchmark.
    */
  val Pinned: Map[String, Digest] = Map(
    "dedup_minhash_lsh" -> Digest(773, 797245172150L),
    "dedup_cc_clusters" -> Digest(5000, 5309751610574L),
    "corpus_decontaminate" -> Digest(4948, 5235879706388L),
    "corpus_sampling_plan" -> Digest(5000, 5416161993967L),
    "dedup_canonical" -> Digest(5000, 5375740317404L),
    "dedup_simhash" -> Digest(5000, 5387388116409L),
    "ann_topk_bruteforce" -> Digest(100, 101181915275L),
    "q02_top_revenue_orders" -> Digest(10, 10489259374L))

  final case class Op(leaf: String, buildMs: Double, execMs: Double, jobs: Long,
      digest: Digest) {
    def ok: Boolean = Pinned.get(leaf).contains(digest)
  }

  /** The per-leaf metrics and every operation run. */
  def measure(spark: SparkSession, seed: Long, work: File): (Seq[(String, Double, String)], Seq[Op]) = {
    val sfDir = new File(work, "sf").getAbsolutePath
    CurationTables.write(spark, sfDir)
    val queries = SparkEntry.queries
    // dedup_canonical reads the cluster table dedup_cc_clusters
    // materializes, so it runs right after it; the seed orders the rest
    val order = Layers.CurationLeaves.filterNot(_ == "dedup_canonical")
      .sortBy(l => Seeds.mix(seed * 31 + l.hashCode))
      .flatMap(l => if (l == "dedup_cc_clusters") Seq(l, "dedup_canonical") else Seq(l))
    val probe = new SparkProbe(spark).attach()
    def op(leaf: String): Op = {
      val j0 = probe.snapshot().jobs
      val t0 = System.nanoTime()
      val df = queries(leaf)(spark, sfDir)
      val t1 = System.nanoTime()
      val d = Digest.of(df)
      val t2 = System.nanoTime()
      Op(leaf, (t1 - t0) / 1e6, (t2 - t1) / 1e6, probe.snapshot().jobs - j0, d)
    }
    val warm = order.map(op)
    val timed = order.map(op)
    probe.detach()
    val metrics = timed.flatMap(o => Seq(
      (s"ops.${o.leaf}.build_ms", o.buildMs, "ms"),
      (s"ops.${o.leaf}.exec_ms", o.execMs, "ms"),
      (s"ops.${o.leaf}.jobs", o.jobs.toDouble, "count")))
    (metrics, warm ++ timed)
  }
}
