package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators a large-scale training-data pipeline runs
  * before anything touches a model: quality filtering with bucket
  * decisions (cc_net-style), vocabulary building, per-slice corpus stats,
  * and PII scrubbing. All pure column algebra (codegen'd, no UDFs), all
  * with exact DuckDB oracles.
  *
  * Scale notes: every op here is scan -> map -> (partial) aggregate; the
  * only shuffles are the keyed aggregations, whose keys (token, (source,
  * lang)) have bounded cardinality, with map-side combine doing the heavy
  * lifting. Nothing is pairwise.
  */
object CorpusOps {

  private def toks(c: Column): Column = split(c, " ")

  /** Quality filter with keep/bucket decision: repetition ratio
    * (1 - distinct/total tokens — THE signal for boilerplate and
    * tag-soup), stopword ratio, and length gates, bucketed like a
    * cc_net-style head/middle/tail split. Thresholds are fixed so the
    * decision is deterministic and engine-portable.
    */
  def docQualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val t = toks(col("text"))
    val nTok = size(t)
    val repRatio = lit(1.0) - size(array_distinct(t)).cast("double") / nTok.cast("double")
    val stopRatio = size(filter(t, x => x.isin("the", "a"))).cast("double") / nTok.cast("double")
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), nTok.as("n_tokens"),
        round(repRatio, 6).as("rep_ratio"), round(stopRatio, 6).as("stop_ratio"))
      .withColumn("bucket",
        when(col("rep_ratio") <= 0.6, "head")
          .when(col("rep_ratio") <= 0.75, "middle")
          .otherwise("tail"))
      .withColumn("keep",
        col("bucket") =!= "tail" && col("n_tokens") >= 20 && col("stop_ratio") <= 0.3)
      .orderBy(col("doc_id"))
  }

  val docQualityFilterSql: String =
    """WITH q AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
      |    round(1.0 - CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
      |      / len(string_split(text,' ')), 6) AS rep_ratio,
      |    round(CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS DOUBLE)
      |      / len(string_split(text,' ')), 6) AS stop_ratio
      |  FROM documents)
      |SELECT doc_id, n_tokens, rep_ratio, stop_ratio,
      |  CASE WHEN rep_ratio <= 0.6 THEN 'head'
      |       WHEN rep_ratio <= 0.75 THEN 'middle' ELSE 'tail' END AS bucket,
      |  (CASE WHEN rep_ratio <= 0.6 THEN 'head'
      |        WHEN rep_ratio <= 0.75 THEN 'middle' ELSE 'tail' END) <> 'tail'
      |    AND n_tokens >= 20 AND stop_ratio <= 0.3 AS keep
      |FROM q ORDER BY doc_id""".stripMargin

  /** Vocabulary building: top-100 tokens by global count (ties by token).
    * The shuffle key is the token — bounded cardinality, partial
    * aggregation does the work map-side; a skewed token ("the") is ONE
    * reducer key carrying a pre-combined count, not raw rows.
    */
  def corpusVocab(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(explode(toks(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)

  val corpusVocabSql: String =
    """SELECT token, CAST(COUNT(*) AS BIGINT) AS n
      |FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
      |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin

  /** Per-(source, lang) corpus stats: the slice inventory a curation run
    * reports before sampling decisions.
    */
  def corpusStats(spark: SparkSession, sfDir: String): DataFrame = {
    val nTok = size(toks(col("text")))
    Tables.load(spark, sfDir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(nTok.cast("long")).as("total_tokens"),
        round(avg(nTok.cast("double")), 4).as("avg_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("source"), col("lang"))
  }

  val corpusStatsSql: String =
    """SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
      |  round(AVG(CAST(len(string_split(text,' ')) AS DOUBLE)), 4) AS avg_tokens,
      |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
      |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin

  /** PII patterns shared by the Spark op and the unit spec. Deliberately
    * conservative, RE2/Java-compatible (no lookaround, \d and \b only).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** Scrub a text column: emails, phone numbers and SSN-shaped numbers
    * become typed placeholder tokens. Exposed as a Column function so any
    * pipeline (not just the gate query) can apply it.
    */
  def scrubbed(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        SsnRe, "<SSN>"),
      PhoneRe, "<PHONE>")

  /** Count of replacements [[scrubbed]] actually performs: each later
    * pattern counts over the text AFTER the earlier passes ran (email ->
    * SSN -> phone, the same order). Counting all three independently on
    * the original text would double-count overlaps — a phone number
    * embedded in an email local-part is ONE <EMAIL> replacement, not two
    * redactions.
    */
  def nRedactions(text: Column): Column = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterSsn = regexp_replace(afterEmail, SsnRe, "<SSN>")
    (size(regexp_extract_all(text, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(afterEmail, lit(SsnRe), lit(0))) +
      size(regexp_extract_all(afterSsn, lit(PhoneRe), lit(0)))).cast("int")
  }

  /** PII scrub over the documents table: redaction count + md5 of the
    * scrubbed text per doc (the hash keeps the gate compare exact without
    * shipping full text through the checker).
    */
  def docPiiScrub(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), nRedactions(col("text")).as("n_redactions"),
        md5(scrubbed(col("text")).cast("binary")).as("scrubbed_md5"))
      .orderBy(col("doc_id"))

  val docPiiScrubSql: String =
    """WITH p AS (SELECT doc_id, text,
      |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |      '<EMAIL>', 'g') AS after_email FROM documents),
      |q AS (SELECT doc_id, text, after_email,
      |    regexp_replace(after_email, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g')
      |      AS after_ssn FROM p)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      |    + len(regexp_extract_all(after_email, '\b\d{3}-\d{2}-\d{4}\b'))
      |    + len(regexp_extract_all(after_ssn, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INT) AS n_redactions,
      |  md5(regexp_replace(after_ssn,
      |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g')) AS scrubbed_md5
      |FROM q ORDER BY doc_id""".stripMargin

  /** Deterministic train/val/test assignment by content-free id hash —
    * the standard leakage-safe split for training corpora: stable under
    * re-partitioning, re-runs and corpus growth (a document's split never
    * changes when other documents arrive, unlike randomSplit or any
    * count-based slicing). Map-only: no shuffle at any scale. Salted so
    * a different split surface can be minted by changing the salt, and
    * thresholds on the first two md5 hex chars give 204/26/26 out of 256
    * (~80/10/10). Hex-string comparison is identical in Spark and DuckDB,
    * so the oracle reproduces the assignment byte-for-byte.
    */
  def corpusTrainSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        substring(md5(concat(lit("split:"), col("doc_id").cast("string"))
          .cast("binary")), 1, 2).as("h"))
      .select(col("doc_id"),
        when(col("h") < "cc", "train")
          .when(col("h") < "e6", "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))

  val corpusTrainSplitSql: String =
    """SELECT doc_id,
      |  CASE WHEN h < 'cc' THEN 'train'
      |       WHEN h < 'e6' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |        substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) h
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Sequence-packing plan — the concat-then-chunk packing stage an LLM
    * training pipeline runs after tokenization: documents are sharded by
    * id hash (64 shards — at real scale one shard per writer task),
    * concatenated deterministically within each shard (doc_id order),
    * and chunked at `PackBudget` tokens. pack_in_shard is the chunk the
    * document's LAST token lands in; contributions are capped at one
    * budget unit per doc so an oversized document advances the plan by
    * exactly one pack. Shard-local window cumsum: the only shuffle is
    * the hash-partition by shard, each shard's window is independent —
    * nothing global, so the shape survives any corpus size by raising
    * the shard count.
    */
  val PackBudget = 2048

  def corpusPackPlan(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), size(toks(col("text"))).as("n_tokens"),
        (conv(substring(md5(concat(lit("pack:"), col("doc_id").cast("string"))
          .cast("binary")), 1, 2), 16, 10).cast("int") % 64).as("shard"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(least(col("n_tokens"), lit(PackBudget))).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor((col("cum") - 1) / PackBudget).cast("int").as("pack_in_shard"))
      .orderBy(col("doc_id"))
  }

  val corpusPackPlanSql: String =
    s"""WITH d AS (SELECT doc_id,
      |    CAST(len(string_split(text,' ')) AS INT) n_tokens,
      |    CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 2))::INT
      |      % 64 AS INT) shard
      |  FROM documents),
      |c AS (SELECT doc_id, shard, n_tokens,
      |    SUM(LEAST(n_tokens, $PackBudget)) OVER (PARTITION BY shard
      |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) cum
      |  FROM d)
      |SELECT doc_id, shard, n_tokens,
      |  CAST((cum - 1) // $PackBudget AS INT) AS pack_in_shard
      |FROM c ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination (the GPT-3-style n-gram overlap scrub a
    * training pipeline runs against held-out eval sets, scaled to
    * 5-grams for the synthetic corpus): documents sharing any word
    * n-gram with the benchmark set are flagged. The benchmark here is
    * the deterministic doc_id % 97 == 0 slice standing in for an
    * external eval-set table.
    *
    * Scale shape: benchmark grams are EVAL-set-scale (bounded,
    * independent of corpus size) — broadcast; the corpus side is one
    * explode + broadcast-join + keyed count, map-side combined. Nothing
    * pairwise, no corpus-scale shuffle beyond the per-doc count.
    */
  val DecontamN = 5

  private[graft] def decontaminateCompute(spark: SparkSession, sfDir: String): DataFrame = {
    val t = toks(col("text"))
    // short-doc guard: Spark sequence(1, stop) COUNTS DOWN for stop < 1
    val grams = when(size(t) >= DecontamN,
      transform(sequence(lit(1), size(t) - (DecontamN - 1)),
        i => concat_ws(" ", slice(t, i, lit(DecontamN)))))
      .otherwise(array().cast("array<string>"))
    // spread the narrow test scan before the 5-gram explode: gram
    // assembly + the broadcast-join probe are the per-row CPU here
    // (measured 1.7 s single-task at sf0.1, r7); no-op at scale
    val d = Tables.loadSpread(spark, sfDir, "documents", "doc_id")
      .select(col("doc_id"), grams.as("g"))
    val bench = d.filter(col("doc_id") % 97 === 0)
      .select(explode(col("g")).as("bg")).distinct()
    d.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode_outer(array_distinct(col("g"))).as("gr"))
      .join(broadcast(bench), col("gr") === col("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("bg")).as("n_contaminated_grams"))
      .withColumn("contaminated", col("n_contaminated_grams") >= 1)
  }

  def corpusDecontaminate(spark: SparkSession, sfDir: String): DataFrame =
    SnapshotCache.materialize(spark, sfDir, "decontaminate")(
      decontaminateCompute(spark, sfDir))
      .orderBy(col("doc_id"))

  private def decontaminateTable(spark: SparkSession, sfDir: String): DataFrame =
    SnapshotCache.ensure(spark, sfDir, "decontaminate")(
      decontaminateCompute(spark, sfDir))

  val corpusDecontaminateSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') tk FROM documents),
      |g AS (SELECT doc_id,
      |    CASE WHEN len(tk) >= $DecontamN THEN
      |      list_transform(range(1, len(tk) - ${DecontamN - 2}),
      |        i -> array_to_string(tk[i:i+${DecontamN - 1}], ' '))
      |    ELSE [] END gs
      |  FROM t),
      |bench AS (SELECT DISTINCT unnest(gs) bg FROM g WHERE doc_id % 97 = 0),
      |e AS (SELECT doc_id, unnest(list_distinct(gs)) gr FROM g WHERE doc_id % 97 <> 0),
      |cnt AS (SELECT e.doc_id, COUNT(bench.bg) n
      |        FROM e LEFT JOIN bench ON e.gr = bench.bg GROUP BY e.doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_contaminated_grams,
      |  COALESCE(cnt.n, 0) >= 1 AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
      |LEFT JOIN cnt USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Temperature-weighted source-mixing plan (the domain-mixing stage:
    * upsample small sources, downsample the giant one). Weight per
    * source = sqrt(n_s / n_max) — inverse-temperature alpha = 0.5 chosen
    * because sqrt is IEEE-correctly-rounded, so Spark and DuckDB compute
    * the identical double from the identical integers (a pow(x, 0.7)
    * would be library-dependent in the last bit). Per-doc inclusion is
    * the deterministic md5 fraction < weight — stable under reruns and
    * corpus growth within a source-count snapshot.
    *
    * Scale shape: source counts are a tiny keyed agg (map-side
    * combined), broadcast back; the decision column is map-only. One
    * global pass over the counts yields both the rows and their maximum
    * (crossing the counts with their own max would compute and scan for
    * them twice).
    */
  private[graft] def samplingPlanCompute(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"))
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_source_docs"))
    val withMax = counts
      .agg(collect_list(struct(col("source"), col("n_source_docs"))).as("c"),
        max(col("n_source_docs")).as("n_max"))
      .select(explode(col("c")).as("c"), col("n_max"))
      .select(col("c.source").as("source"), col("c.n_source_docs").as("n_source_docs"),
        col("n_max"))
    val w = sqrt(col("n_source_docs").cast("double") / col("n_max").cast("double"))
    val h = conv(substring(md5(concat(lit("sample:"), col("doc_id").cast("string"))
      .cast("binary")), 1, 8), 16, 10).cast("long").cast("double") / lit(4294967296.0)
    d.join(broadcast(withMax), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_source_docs"),
        round(w, 6).as("weight"), (h < w).as("sampled"))
  }

  def corpusSamplingPlan(spark: SparkSession, sfDir: String): DataFrame =
    SnapshotCache.materialize(spark, sfDir, "sampling_plan")(
      samplingPlanCompute(spark, sfDir))
      .orderBy(col("doc_id"))

  private def samplingPlanTable(spark: SparkSession, sfDir: String): DataFrame =
    SnapshotCache.ensure(spark, sfDir, "sampling_plan")(
      samplingPlanCompute(spark, sfDir))

  val corpusSamplingPlanSql: String =
    """WITH c AS (SELECT source, COUNT(*) n FROM documents GROUP BY source),
      |m AS (SELECT MAX(n) nmax FROM c),
      |s AS (SELECT d.doc_id, d.source, c.n n_source_docs,
      |        sqrt(CAST(c.n AS DOUBLE) / CAST(m.nmax AS DOUBLE)) w,
      |        CAST(('0x' || substr(md5('sample:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT AS DOUBLE)
      |          / 4294967296.0 h
      |      FROM documents d JOIN c USING (source), m)
      |SELECT doc_id, source, CAST(n_source_docs AS BIGINT) AS n_source_docs,
      |  round(w, 6) AS weight, h < w AS sampled
      |FROM s ORDER BY doc_id""".stripMargin

  /** THE curation decision — the fused keep/drop verdict a training-data
    * pipeline actually ships, composing the individual signals end to
    * end: quality gate AND not benchmark-contaminated AND selected by the
    * source-mixing plan AND the canonical representative of its near-dup
    * cluster; benchmark (eval-slice) documents are excluded outright.
    * Every input signal is itself an exact-oracled operator; the oracle
    * here composes their SQL verbatim as subqueries, so the fused
    * decision cannot drift from the parts.
    *
    * Scale shape: four already-bounded pipelines joined on doc_id — the
    * joins are co-keyed 1:1 on the id, and the three expensive signals
    * (near-dup clusters incl. connected components, decontamination,
    * sampling plan) are read from the per-snapshot materialization
    * (SnapshotCache), not recomputed per consumer: at 100 TB the CC job
    * is the dominant curation cost and must run once per snapshot.
    */
  def corpusCurationDecision(spark: SparkSession, sfDir: String): DataFrame = {
    val quality = docQualityFilter(spark, sfDir)
      .select(col("doc_id"), col("keep").as("quality_keep"))
    val decontam = decontaminateTable(spark, sfDir)
      .select(col("doc_id"), col("contaminated"))
    val sampling = samplingPlanTable(spark, sfDir)
      .select(col("doc_id"), col("sampled"))
    val canonical = graft.ops.DocOps.dedupCanonical(spark, sfDir)
      .select(col("doc_id"), col("keep").as("dedup_keep"))
    Tables.load(spark, sfDir, "documents").select(col("doc_id"))
      .withColumn("is_benchmark", col("doc_id") % 97 === 0)
      .join(quality, Seq("doc_id"))
      .join(decontam, Seq("doc_id"), "left") // benchmark docs have no row
      .join(sampling, Seq("doc_id"))
      .join(canonical, Seq("doc_id"))
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      .withColumn("keep",
        !col("is_benchmark") && col("quality_keep") && !col("contaminated") &&
          col("sampled") && col("dedup_keep"))
      .select(col("doc_id"), col("is_benchmark"), col("quality_keep"),
        col("contaminated"), col("sampled"), col("dedup_keep"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Composes the part oracles VERBATIM as subqueries (DuckDB supports
    * nested WITH, including RECURSIVE, inside a subquery) — one source of
    * truth per signal.
    */
  def corpusCurationDecisionSql: String =
    s"""SELECT d.doc_id, d.doc_id % 97 = 0 AS is_benchmark,
      |  q.keep AS quality_keep,
      |  COALESCE(c.contaminated, false) AS contaminated,
      |  sp.sampled, dc.keep AS dedup_keep,
      |  d.doc_id % 97 <> 0 AND q.keep AND NOT COALESCE(c.contaminated, false)
      |    AND sp.sampled AND dc.keep AS keep
      |FROM documents d
      |JOIN ($docQualityFilterSql) q ON d.doc_id = q.doc_id
      |LEFT JOIN ($corpusDecontaminateSql) c ON d.doc_id = c.doc_id
      |JOIN ($corpusSamplingPlanSql) sp ON d.doc_id = sp.doc_id
      |JOIN (${graft.ops.DocOps.dedupCanonicalSql}) dc ON d.doc_id = dc.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_curation_decision" -> (corpusCurationDecision _),
    "doc_quality_filter" -> (docQualityFilter _),
    "corpus_vocab" -> (corpusVocab _),
    "corpus_stats" -> (corpusStats _),
    "corpus_train_split" -> (corpusTrainSplit _),
    "corpus_pack_plan" -> (corpusPackPlan _),
    "corpus_decontaminate" -> (corpusDecontaminate _),
    "corpus_sampling_plan" -> (corpusSamplingPlan _),
    "doc_pii_scrub" -> (docPiiScrub _))

  val oracleSql: Map[String, String] = Map(
    "corpus_curation_decision" -> corpusCurationDecisionSql,
    "doc_quality_filter" -> docQualityFilterSql,
    "corpus_vocab" -> corpusVocabSql,
    "corpus_stats" -> corpusStatsSql,
    "corpus_train_split" -> corpusTrainSplitSql,
    "corpus_pack_plan" -> corpusPackPlanSql,
    "corpus_decontaminate" -> corpusDecontaminateSql,
    "corpus_sampling_plan" -> corpusSamplingPlanSql,
    "doc_pii_scrub" -> docPiiScrubSql)
}
