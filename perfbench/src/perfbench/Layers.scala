package perfbench

/** Every per-layer metric a traced run prints, with its unit. A workload
  * that does not exercise a layer reports 0 for it: that layer did no
  * work there (no Spark job runs in `annotate_service`, no HTTP request
  * is served in `kg_batch`).
  */
object Layers {
  val CurationLeaves: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_cc_clusters", "corpus_decontaminate",
    "corpus_sampling_plan", "dedup_canonical", "dedup_simhash",
    "ann_topk_bruteforce", "q02_top_revenue_orders")

  val all: Seq[(String, String)] =
    Seq("text.extract_us", "text.tokenize_us", "text.sentences_us", "aa.detect_us",
      "link.chunk_us", "link.gather_us", "link.evaluate_us", "link.map_us",
      "negex.mark_us", "pipeline.kernel_us", "pipeline.triples_us").map(_ -> "us/doc") ++
    Seq("link.phrases_per_doc" -> "count/doc", "link.variants_per_phrase" -> "count/phrase",
      "link.candidates_per_phrase" -> "count/phrase", "link.mapped_share" -> "ratio",
      "spark.jobs" -> "count/op", "spark.tasks" -> "count/op",
      "spark.input_tasks" -> "count/op", "spark.core_util" -> "ratio",
      "spark.gc_share" -> "ratio", "spark.task_skew" -> "ratio",
      "spark.shuffle_mb" -> "MB/op", "spark.scaling_eff_1to4" -> "ratio",
      "pipeline.run_s" -> "s", "graph.write_s" -> "s", "graph.rollup_s" -> "s",
      "graph.files" -> "count", "graph.bytes_per_triple" -> "B",
      "umls.tables_s" -> "s", "umls.index_entries" -> "count",
      "api.latency_p99_ms" -> "ms", "api.direct_p50_ms" -> "ms",
      "api.server_overhead_ms" -> "ms", "sources.records_us" -> "us/req",
      "output.mentions_json_us" -> "us/req", "output.jsonf_us" -> "us/req",
      "output.mmo_us" -> "us/req") ++
    CurationLeaves.flatMap(l => Seq(s"ops.$l.build_ms" -> "ms", s"ops.$l.exec_ms" -> "ms",
      s"ops.$l.jobs" -> "count")) ++
    Seq("trace.overhead_pct" -> "%")

  /** `measured` completed to the full list, in the list's order. */
  def complete(measured: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val units = all.toMap
    measured.foreach { case (n, _, u) =>
      require(units.get(n).contains(u), s"per-layer metric $n [$u] is not in the list")
    }
    val byName = measured.map(m => m._1 -> m).toMap
    all.map { case (n, u) => byName.getOrElse(n, (n, 0.0, u)) }
  }

  /** Relative end-to-end cost of tracing, in percent of the untraced rate. */
  def overhead(untracedPerS: Double, tracedPerS: Double): (String, Double, String) =
    ("trace.overhead_pct", 100.0 * (untracedPerS - tracedPerS) / untracedPerS, "%")
}
