package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Writes `.explain("formatted")` for named queries to a directory —
  * the per-round plan evidence (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: sbt "runMain graft.tools.PlanSnap <outDir> [suffix] [query ...]"
  * e.g.   sbt "runMain graft.tools.PlanSnap plans/r08 before dedup_minhash_lsh"
  * The output directory is required (an existing round's evidence is
  * never overwritten by default); the suffix defaults to "before" and
  * the queries to every bench headline query.
  * Session shape matches graft.Bench (local[N], shuffle.partitions=N,
  * AQE on) so the captured initial plans are the bench's plans.
  */
object PlanSnap {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.tools.PlanSnap <outDir> [suffix] [query ...]")
      sys.exit(2)
    }
    val outDir = args(0)
    val suffix = args.lift(1).getOrElse("before")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else Seq(
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

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    Files.createDirectories(Paths.get(outDir))
    val qs = SparkEntry.queries
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // snapshot-materialized entries: the query entry's own plan is the
    // post-materialization parquet read; the plan that costs time is the
    // inner compute, captured separately
    val inner: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "dedup_minhash_lsh" -> ((s, d) => graft.ops.DocOps.minhashCandidatePairs(s, d)),
      "dedup_cc_clusters" -> ((s, d) => graft.ops.DocOps.ccClustersCompute(s, d)),
      "corpus_decontaminate" -> ((s, d) => graft.ops.CorpusOps.decontaminateCompute(s, d)),
      "corpus_sampling_plan" -> ((s, d) => graft.ops.CorpusOps.samplingPlanCompute(s, d)))
    for (name <- names if qs.contains(name)) {
      inner.get(name) match {
        case Some(fn) =>
          Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
            fmt(fn(spark, sfDir)))
        case None =>
          Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
            fmt(qs(name)(spark, sfDir)))
      }
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
