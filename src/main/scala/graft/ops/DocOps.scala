package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Large-scale training-data pipeline operators over the `documents` and
  * `embeddings` tables: deduplication (exact, MinHash+LSH, SimHash, token
  * Jaccard, embedding cosine), similarity search, and text analysis.
  *
  * Scale notes (100 TB target):
  *  - every pairwise op is blocked (LSH bands / (source,lang) blocks /
  *    label partitions) so the candidate-pair count grows near-linearly,
  *    never as corpus^2;
  *  - all hashes are md5-derived so results are engine-independent and the
  *    DuckDB oracles compare exactly;
  *  - shingling/minhashing is pure column algebra (codegen'd), no UDFs.
  */
object DocOps {

  private def toks(c: Column): Column = split(c, " ")

  /** Word n-gram shingles (1-based slice, matching the DuckDB oracle).
    * Guarded for short documents: Spark's sequence(1, stop) COUNTS DOWN
    * when stop < 1 (unlike DuckDB's generate_series, which is empty), so
    * a sub-n-token document must short-circuit to an empty array or
    * slice throws on the descending indices.
    */
  private def ngrams(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      transform(sequence(lit(1), size(tokens) - (n - 1)),
        i => concat_ws(" ", slice(tokens, i, lit(n)))))
      .otherwise(array())

  private def shingles(tokens: Column): Column = ngrams(tokens, 3)

  // ---------- text analysis ----------

  /** Token + char counting (whitespace tokenizer). */
  def docTokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), size(toks(col("text"))).as("n_tokens"),
        length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))

  val docTokenCountSql: String =
    """SELECT doc_id, CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
      |  CAST(length(text) AS INT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** BPE-ish regex tokenization (GPT-2-style alternation: contraction
    * suffixes, letter runs, digit runs, single punctuation) — the
    * pre-tokenizer pass a training-data pipeline counts tokens with.
    * Same RE2/Java-compatible pattern on both sides of the oracle.
    */
  private val bpePattern = "'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def docTokenCountBpe(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(bpePattern), lit(0))).as("n_bpe_tokens"),
        size(toks(col("text"))).as("n_ws_tokens"))
      .orderBy(col("doc_id"))

  val docTokenCountBpeSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9[:space:]]')) AS INT) AS n_bpe_tokens,
      |  CAST(len(string_split(text,' ')) AS INT) AS n_ws_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: stopword ratio, punctuation ratio, chars-per-token
    * (the length/punct/stopword heuristics of a training-data quality
    * filter).
    */
  def docQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
    val t = toks(col("text"))
    val nTok = size(t)
    val nStop = size(filter(t, x => x.isin("the", "a")))
    val nPunct = length(col("text")) -
      length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""))
    d.select(col("doc_id"), nTok.as("n_tokens"), nStop.as("n_stop"),
      (nStop.cast("double") / nTok.cast("double")).as("stop_ratio"),
      (nPunct.cast("double") / length(col("text"))).as("punct_ratio"),
      (col("n_chars").cast("double") / nTok.cast("double")).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  val docQualitySql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
      |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS INT) AS n_stop,
      |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a'))) AS DOUBLE)
      |    / len(string_split(text,' ')) AS stop_ratio,
      |  CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
      |    / length(text) AS punct_ratio,
      |  CAST(n_chars AS DOUBLE) / len(string_split(text,' ')) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Repetition signals — the Gopher/C4-style repetitiousness filters a
    * training-data pipeline runs next to stopword/punct quality: the
    * fraction of all bigram occurrences taken by the single most
    * frequent bigram, and the fraction of trigram occurrences that are
    * repeats of an earlier trigram. Pure keyed aggregation (explode ->
    * per-(doc, gram) count -> per-doc max/sum), map-side-combined; no
    * per-doc state beyond the running aggregates.
    */
  def docRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
    def gramStats(n: Int, withTop: Boolean, top: String, dup: String): DataFrame = {
      val counted = d.select(col("doc_id"), explode(ngrams(toks(col("text")), n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
      val dupAgg = round(lit(1.0) - count(lit(1)).cast("double") / sum(col("n")), 6).as(dup)
      if (withTop)
        counted.agg(round(max(col("n")).cast("double") / sum(col("n")), 6).as(top), dupAgg)
      else counted.agg(dupAgg)
    }
    d.select(col("doc_id"))
      .join(gramStats(2, withTop = true, "top_bigram_frac", "dup_bigram_frac"),
        Seq("doc_id"), "left")
      .join(gramStats(3, withTop = false, "", "dup_trigram_frac"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"),
        coalesce(col("dup_bigram_frac"), lit(0.0)).as("dup_bigram_frac"),
        coalesce(col("dup_trigram_frac"), lit(0.0)).as("dup_trigram_frac"))
      .orderBy(col("doc_id"))
  }

  val docRepetitionSql: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |b AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') g
      |      FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-1)) AS i) gi),
      |bc AS (SELECT doc_id, g, COUNT(*) n FROM b GROUP BY doc_id, g),
      |bs AS (SELECT doc_id, round(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) top_bigram_frac,
      |         round(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(n), 6) dup_bigram_frac
      |       FROM bc GROUP BY doc_id),
      |tr AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') g
      |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-2)) AS i) gi),
      |tc AS (SELECT doc_id, g, COUNT(*) n FROM tr GROUP BY doc_id, g),
      |ts AS (SELECT doc_id, round(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(n), 6) dup_trigram_frac
      |       FROM tc GROUP BY doc_id)
      |SELECT t.doc_id, COALESCE(bs.top_bigram_frac, 0.0) AS top_bigram_frac,
      |  COALESCE(bs.dup_bigram_frac, 0.0) AS dup_bigram_frac,
      |  COALESCE(ts.dup_trigram_frac, 0.0) AS dup_trigram_frac
      |FROM t LEFT JOIN bs ON t.doc_id = bs.doc_id
      |       LEFT JOIN ts ON t.doc_id = ts.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Winnowing-style document fingerprint: min md5 over word 3-gram
    * shingles (rolling-hash fingerprinting re-expressed with an
    * engine-portable hash).
    */
  /** One row per document; fingerprint is NULL for sub-3-token docs
    * (no trigram exists) — the oracle LEFT JOINs so both sides agree.
    */
  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), array_min(transform(shingles(toks(col("text"))),
        s => md5(s.cast("binary")))).as("fingerprint"))
      .orderBy(col("doc_id"))

  val docFingerprintSql: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |s AS (SELECT doc_id, md5(array_to_string(toks[i:i+2], ' ')) h
      |      FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-2)) AS i) g)
      |SELECT t.doc_id, min(s.h) AS fingerprint
      |FROM t LEFT JOIN s ON t.doc_id = s.doc_id
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------- deduplication ----------

  /** Exact dedup: hash-group on full text, canonical = min doc_id. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("canonical_id"))

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY md5(text) ORDER BY canonical_id""".stripMargin

  /** MinHash signatures: 8 per doc, minhash_j = min over shingles of
    * md5(j || '|' || shingle). Banded 2-wide -> 4 LSH bucket keys.
    */
  private def minhashBands(spark: SparkSession, sfDir: String,
      unigram: Boolean = false,
      blockCols: Seq[String] = Seq.empty): DataFrame = {
    // spread the narrow test scan across the cores BEFORE the shingle
    // explode: the two md5 digests per shingle dominate this operator's
    // CPU (guide §2.5 — measured 2.3 s single-task at sf0.1, r7)
    val d = Tables.loadSpread(spark, sfDir, "documents", "doc_id")
    // unigram=true minhashes the distinct TOKEN set — the right feature
    // space when the downstream verify measure is unigram-token Jaccard
    // (banded collision prob = J^2 per 2-row band); default trigram
    // shingles catch document-level near-duplication. blockCols carry
    // extra blocking keys (e.g. source/lang) into the bucket key.
    val feats = if (unigram) array_distinct(toks(col("text")))
      else shingles(toks(col("text")))
    val sh = d.select(col("doc_id") +: blockCols.map(col) :+ explode(feats).as("sh"): _*)
    // all 8 minhashes in ONE partial-aggregating pass: 8 agg columns over
    // the shingle rows instead of exploding x8 and shuffling (doc_id, j)
    // keys — 8x less shuffle volume. Hash cost: TWO md5 digests per
    // shingle, each split into four 8-hex (32-bit) chunks = 8 independent
    // minhash functions (md5 output bits are independent), instead of 8
    // full digests — md5 dominates this op's profile. (A fully map-side
    // array-column formulation was measured SLOWER — higher-order
    // lambdas run interpreted and allocate digest arrays; the exploded
    // rows stay inside whole-stage codegen with partial aggregation:
    // 3.1s vs 4.8s at sf0.1.)
    val h1 = md5(col("sh").cast("binary"))
    val h2 = md5(concat(lit("x"), col("sh")).cast("binary"))
    // minhash as LONGS, not hex strings (r7): the 8-hex-char chunks are
    // fixed-length lowercase hex, so their lexicographic MIN equals the
    // numeric MIN of their values — aggregating min(long) keeps the
    // signature pass in a mutable-buffer HashAggregate, where min(string)
    // fell back to SortAggregate and sorted every shingle row by doc_id
    // per partition. The exact chunk string is reconstructed AFTER
    // aggregation (lower(lpad(hex(v)))) — byte-identical band signatures.
    val mh = (0 until 8).map { j =>
      val h = if (j < 4) h1 else h2
      min(conv(substring(h, (j % 4) * 8 + 1, 8), 16, 10).cast("long")).as(s"mh$j")
    }
    val sig = sh.groupBy(col("doc_id") +: blockCols.map(col): _*)
      .agg(mh.head, mh.tail: _*)
    // band b pairs (mh_{2b}, mh_{2b+1}); sig = order-independent concat
    // (identical to string_agg(mh, '' ORDER BY mh) in the oracle); the
    // long compare equals the hex-string compare (same length, same order)
    def hex8(c: Column): Column = lower(lpad(hex(c), 8, "0"))
    def bandSig(b: Int) = {
      val x = col(s"mh${2 * b}"); val y = col(s"mh${2 * b + 1}")
      struct(lit(b).as("band"),
        when(x <= y, concat(hex8(x), hex8(y)))
          .otherwise(concat(hex8(y), hex8(x))).as("sig"))
    }
    sig.select(col("doc_id") +: blockCols.map(col) :+
        explode(array((0 until 4).map(bandSig): _*)).as("bs"): _*)
      .select(col("doc_id") +: blockCols.map(col) :+
        col("bs.band").as("band") :+ col("bs.sig").as("sig"): _*)
  }

  /** Hot-bucket guard for candidate-pair enumeration: a bucket holding
    * more members than this is a non-discriminative signature (tiny
    * vocabularies, boilerplate floods) whose in-bucket pair expansion
    * would be quadratic — the same bound-the-hot-key defense as the
    * reference's first_wordsb table. Never reached by healthy data at
    * test SFs; the oracle applies the identical HAVING bound.
    */
  val HotBucketCap = 4096

  /** Candidate near-dup pairs from the banded minhash signatures: ONE
    * aggregation pass groups doc ids per (band, sig) bucket, and pairs are
    * enumerated within each bucket with array algebra — pair count is
    * bounded by bucket occupancy, never corpus^2, and the shingle->minhash
    * lineage is computed exactly once. (The round-1 self-join form
    * recomputed that lineage for BOTH sides: 20.9 s vs ~3 s for one
    * signature pass at sf0.1.)
    */
  private[graft] def minhashCandidatePairs(spark: SparkSession, sfDir: String,
      unigram: Boolean = false,
      blockCols: Seq[String] = Seq.empty): DataFrame = {
    // blockCols join the bucket key: when the downstream verify measure
    // only pairs within a block anyway (same source/lang), keying the
    // bucket by the block too is result-lossless AND shrinks buckets by
    // the block count — without it, a low-diversity corpus (tiny shared
    // vocabulary) makes band signatures non-discriminative and a bucket
    // approaches the corpus (measured: 45 s at sf0.1 for the unblocked
    // unigram form vs ~2 s blocked). The capped collect (a custom typed
    // aggregate) stops buffering a hot bucket at cap+1 ids, so the size
    // filter below drops overflowed buckets WITHOUT the aggregation ever
    // holding a corpus-sized array in one buffer.
    val buckets = minhashBands(spark, sfDir, unigram, blockCols)
      .groupBy(blockCols.map(col) :+ col("band") :+ col("sig"): _*)
      .agg(graft.functions.GraftFunctions
        .cappedCollectSet(col("doc_id"), HotBucketCap).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= HotBucketCap)
    val ids = col("ids") // already sorted by CappedCollectSetLong.eval
    // pin core-count parallelism for the in-bucket pair enumeration on
    // the narrow test corpus: AQE coalesces the bucket exchange on its
    // INPUT bytes, but the explode multiplies rows quadratically in
    // bucket occupancy, so the enumeration otherwise runs single-task
    // (guide §2.2 — gated exactly like the scan spread, no-op at scale)
    Tables.spreadIf(Tables.narrowScan(spark, sfDir, "documents"), spark, buckets)
      .select(explode(flatten(transform(ids, (a, i) =>
        transform(slice(ids, i + lit(2), size(ids)),
          b => struct(a.as("a"), b.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** MinHash+LSH near-dup candidate pairs: docs sharing >= 1 band bucket.
    * This query IS the pair-materialization job for the corpus snapshot
    * (write-through, like the cluster table): at 100 TB the signature +
    * banding pass runs ONCE and every pair consumer — the CC clustering
    * here, dedup audits, blocking joins — reads the materialized table.
    */
  def dedupMinhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    SnapshotCache.materialize(spark, sfDir, "neardup_pairs")(
      minhashCandidatePairs(spark, sfDir))
      .orderBy(col("a"), col("b"))

  /** The per-snapshot trigram candidate-pair table (reuse or build). */
  private def pairsTable(spark: SparkSession, sfDir: String): DataFrame =
    SnapshotCache.ensure(spark, sfDir, "neardup_pairs")(
      minhashCandidatePairs(spark, sfDir))

  /** The trigram-minhash candidate-pair CTE chain — the SQL mirror of
    * [[minhashCandidatePairs]]. BOTH pair-consuming oracles (the pair
    * dump and the CC clustering) embed this one string, so the band
    * structure can never drift between the two oracle graphs.
    */
  private def minhashPairsCte: String =
    s"""t AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
      |sh AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') sh
      |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks)-2)) AS i) g),
      |hashed AS (SELECT doc_id, j,
      |             substr(CASE WHEN j < 4 THEN md5(sh) ELSE md5('x' || sh) END,
      |                    (j % 4) * 8 + 1, 8) h
      |           FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS j) jj),
      |sig AS (SELECT doc_id, j, min(h) mh FROM hashed GROUP BY doc_id, j),
      |bands AS (SELECT doc_id, CAST(j // 2 AS INT) band,
      |                 string_agg(mh, '' ORDER BY mh) sig
      |          FROM sig GROUP BY doc_id, j // 2),
      |bsize AS (SELECT band, sig, COUNT(*) n FROM bands GROUP BY band, sig),
      |pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      |          FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
      |          JOIN bsize s ON s.band = a.band AND s.sig = a.sig
      |          WHERE a.doc_id < b.doc_id AND s.n BETWEEN 2 AND $HotBucketCap)""".stripMargin

  val dedupMinhashLshSql: String =
    s"""WITH $minhashPairsCte
      |SELECT a, b FROM pairs ORDER BY a, b""".stripMargin

  /** 16-bit SimHash per document from md5-derived token hashes. */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.load(spark, sfDir, "documents")
    val tok = d.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok").cast("binary")), 1, 4), 16, 10)
          .cast("int").as("hv"))
    val bits = tok.select(col("doc_id"), col("hv"),
      explode(sequence(lit(0), lit(15))).as("i"))
      .select(col("doc_id"), col("i"),
        when(expr("shiftright(hv, i)").bitwiseAND(1) === 1, 1)
          .otherwise(-1).as("w"))
      .groupBy(col("doc_id"), col("i")).agg(sum(col("w")).as("s"))
    bits.groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("shiftleft(1L, i)"))
        .otherwise(0L)).cast("long").as("simhash"))
      .orderBy(col("doc_id"))
  }

  val dedupSimhashSql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) tok FROM documents),
      |h AS (SELECT doc_id, ('0x' || substr(md5(tok),1,4))::INT hv FROM t),
      |b AS (SELECT doc_id, i, SUM(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) s
      |      FROM h, LATERAL (SELECT unnest(generate_series(0,15)) AS i) g
      |      GROUP BY doc_id, i)
      |SELECT doc_id, CAST(SUM(CASE WHEN s>0 THEN 1<<i ELSE 0 END) AS BIGINT) AS simhash
      |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Token-set Jaccard near-dup pairs: candidate pairs come from the
    * MinHash band buckets (one bounded signature pass), the EXACT Jaccard
    * measure is then verified on candidates only, restricted to same
    * (source, lang). Threshold 0.6. The candidate step is what makes this
    * 100 TB-safe: the round-1 all-pairs-within-(source,lang) self-join was
    * O(block^2) — at web scale a (source, lang) block IS the corpus. Same
    * principle as the reference's frequent-pair skew table
    * (metamap/metamap_candidates.pl:371-387): bound the hot key.
    */
  def dedupTokenJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // unigram-token minhash: the candidate generator must live in the SAME
    // feature space as the verified measure, or recall collapses (trigram
    // bands surfaced 1 of ~900 J>=0.6 pairs on this corpus; unigram bands
    // collide with prob 1-(1-J^2)^4 ~ 0.83 at J=0.6). Buckets are keyed by
    // (source, lang) too — lossless, since only same-block pairs survive
    // the verify filter below
    val cand = minhashCandidatePairs(spark, sfDir, unigram = true,
      blockCols = Seq("source", "lang"))
    val narrow = Tables.narrowScan(spark, sfDir, "documents")
    val dRaw = Tables.load(spark, sfDir, "documents")
    val d = Tables.spreadIf(narrow, spark, dRaw, Seq(dRaw("doc_id")))
      .select(col("doc_id"), col("source"), col("lang"),
        array_distinct(toks(col("text"))).as("ts"))
    // two linear equi-joins on doc_id fetch the token sets per candidate.
    // On the narrow test corpus every side is tiny, so the planner
    // broadcasts both token-set sides and AQE coalesces the candidate
    // exchange to ONE partition — serializing the exact-measure stage,
    // which is this op's CPU (array_intersect per pair; 1.3 s single-task
    // at sf0.1, r7). The gated spread pins core-count parallelism for the
    // verify stage; at production scale the candidate table arrives
    // already wide and no exchange is added.
    Tables.spreadIf(narrow, spark, cand, Seq(cand("a")))
      .join(d.select(col("doc_id").as("a"), col("source").as("src_a"),
        col("lang").as("lang_a"), col("ts").as("ta")), Seq("a"))
      .join(d.select(col("doc_id").as("b"), col("source").as("src_b"),
        col("lang").as("lang_b"), col("ts").as("tb")), Seq("b"))
      .filter(col("src_a") === col("src_b") && col("lang_a") === col("lang_b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      // |A ∪ B| = |A| + |B| − |A ∩ B| for the already-distinct token
      // sets: same value as size(array_union(ta, tb)) without allocating
      // the union array per pair (guide §1.2 per-task work)
      .withColumn("uni", size(col("ta")) + size(col("tb")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= 0.6)
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  val dedupTokenJaccardSql: String =
    s"""WITH sh AS (SELECT doc_id, source, lang,
      |                   unnest(list_distinct(string_split(text,' '))) sh
      |            FROM documents),
      |hashed AS (SELECT doc_id, source, lang, j,
      |             substr(CASE WHEN j < 4 THEN md5(sh) ELSE md5('x' || sh) END,
      |                    (j % 4) * 8 + 1, 8) h
      |           FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS j) jj),
      |sig AS (SELECT doc_id, source, lang, j, min(h) mh
      |        FROM hashed GROUP BY doc_id, source, lang, j),
      |bands AS (SELECT doc_id, source, lang, CAST(j // 2 AS INT) band,
      |                 string_agg(mh, '' ORDER BY mh) sig
      |          FROM sig GROUP BY doc_id, source, lang, j // 2),
      |bsize AS (SELECT source, lang, band, sig, COUNT(*) n
      |          FROM bands GROUP BY source, lang, band, sig),
      |cand AS (SELECT DISTINCT p.doc_id AS a, q.doc_id AS b
      |         FROM bands p
      |         JOIN bands q ON p.source = q.source AND p.lang = q.lang
      |                     AND p.band = q.band AND p.sig = q.sig
      |         JOIN bsize s ON s.source = p.source AND s.lang = p.lang
      |                     AND s.band = p.band AND s.sig = p.sig
      |         WHERE p.doc_id < q.doc_id AND s.n BETWEEN 2 AND $HotBucketCap),
      |ts AS (SELECT doc_id, source, lang,
      |              list_distinct(string_split(text,' ')) ts FROM documents)
      |SELECT c.a, c.b,
      |  CAST(len(list_intersect(x.ts, y.ts)) AS DOUBLE)
      |    / len(list_distinct(list_concat(x.ts, y.ts))) AS jaccard
      |FROM cand c JOIN ts x ON c.a = x.doc_id JOIN ts y ON c.b = y.doc_id
      |WHERE x.source = y.source AND x.lang = y.lang
      |  AND CAST(len(list_intersect(x.ts, y.ts)) AS DOUBLE)
      |    / len(list_distinct(list_concat(x.ts, y.ts))) >= 0.6
      |ORDER BY a, b""".stripMargin

  /** Near-duplicate CLUSTERS: connected components over the MinHash
    * candidate-pair graph, so transitively-linked near-dups collapse to
    * one canonical document (cluster_id = min doc_id of the component) —
    * the step a dedup pipeline actually keys its "keep one per cluster"
    * decision on; pairs alone under-merge chains (A~B, B~C, A!~C).
    *
    * Scale shape: GraphOps.connectedComponents (alternating star
    * contraction, SoCC'14) — groupBy + bounded array explode per round,
    * O(log^2 n) rounds independent of component diameter, no driver-side
    * graph; per-node neighbor arrays are bounded by the banded generator
    * (HotBucketCap) exactly like the pair queries.
    */
  private[graft] def ccClustersCompute(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    // the pair table is a < b distinct by construction, so (b, a) is
    // already oriented u > v — skip the normalizing orient shuffle
    val members = graft.graph.GraphOps.connectedComponents(
      pairsTable(spark, sfDir)
        .select(col("b").as("u"), col("a").as("v")),
      preOriented = true)
      .select(col("node").as("doc_id"), col("rep").as("cluster_id"))
    docs.join(members, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** The materialized cluster table for this corpus snapshot (run once
    * per JVM per snapshot; consumers read it — see SnapshotCache).
    */
  def clusterTable(spark: SparkSession, sfDir: String): DataFrame =
    SnapshotCache.ensure(spark, sfDir, "neardup_clusters")(
      ccClustersCompute(spark, sfDir))

  def dedupCcClusters(spark: SparkSession, sfDir: String): DataFrame =
    SnapshotCache.materialize(spark, sfDir, "neardup_clusters")(
      ccClustersCompute(spark, sfDir))
      .orderBy(col("doc_id"))

  /** Canonical-document selection per near-dup cluster — the step after
    * clustering that a dedup pipeline actually ships: keep ONE
    * representative per cluster (longest document, doc_id tie-break) and
    * drop the rest. The representative is selected with a per-cluster
    * MAX-aggregation (map-side combined) + join-back, NOT a window: the
    * hot-bucket cap bounds individual band buckets, but connected
    * components chain transitively ACROSS buckets, so a boilerplate/
    * template component can grow far past any bucket bound at corpus
    * scale — a window would sort that whole component in one task,
    * while the agg keeps one (n_chars, doc_id) pair of state per
    * cluster regardless of its size. Reads the per-snapshot
    * materialized cluster table (SnapshotCache) instead of re-running
    * connected components — the CC job runs once per corpus snapshot,
    * every consumer reads its output.
    */
  def dedupCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val members = clusterTable(spark, sfDir).join(docs, Seq("doc_id"))
    // winner per cluster: longest doc, LOWEST doc_id tie-break —
    // max(struct(n_chars, -doc_id)) carries both orderings in one
    // map-side-combinable aggregate
    val winners = members.groupBy(col("cluster_id"))
      .agg(max(struct(col("n_chars").as("w_chars"), (-col("doc_id")).as("w_negid")))
        .as("w"))
      .select(col("cluster_id"), (-col("w.w_negid")).as("winner_id"))
    members.join(winners, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_chars"),
        (col("doc_id") === col("winner_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Min-label connected-components fixpoint over the candidate pairs,
    * shared VERBATIM by the dedup_cc_clusters and dedup_canonical
    * oracles — one copy, so a future change cannot desynchronize them.
    * Ends with `cc(doc_id, cluster_id)`.
    */
  private def ccFixpointCte: String =
    s"""$minhashPairsCte,
      |e AS (SELECT a src, b dst FROM pairs UNION ALL SELECT b, a FROM pairs),
      |r(node, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, r.lbl FROM r JOIN e ON r.node = e.src WHERE r.lbl < e.dst),
      |cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM r GROUP BY node)""".stripMargin

  val dedupCanonicalSql: String =
    s"""WITH RECURSIVE $ccFixpointCte,
      |j AS (SELECT cc.doc_id, cc.cluster_id, d.n_chars,
      |        ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
      |          ORDER BY d.n_chars DESC, cc.doc_id) rk
      |      FROM cc JOIN documents d USING (doc_id))
      |SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id, n_chars,
      |  rk = 1 AS keep
      |FROM j ORDER BY doc_id""".stripMargin

  /** The CC oracle recomputes true connected components over the same
    * candidate pairs with a recursive CTE: the component minimum m
    * propagates across every edge (every other member is > m, so the
    * lbl < dst guard never blocks it), and MIN(lbl) per node is the
    * cluster id — verifying the star-contraction loop against an
    * independent fixpoint formulation.
    */
  val dedupCcClustersSql: String =
    s"""WITH RECURSIVE $ccFixpointCte
      |SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id
      |FROM cc ORDER BY doc_id""".stripMargin

  // ---------- embedding similarity ----------

  /** Cosine via the native codegen'd expression (graft.functions
    * CosineSimilarity): one fused pass over both ArrayData buffers, no
    * intermediate arrays — bit-identical to the previous
    * aggregate(zip_with(...)) formulation and the DuckDB
    * list_dot_product oracle (same sequential double accumulation).
    */
  private def cosineCol(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine(a, b)

  /** Coarse IVF quantizer scoring, shared by dedup_embedding and ann_ivf:
    * every vector's rounded cosine to each of the K=16 deterministic
    * centroids (the lowest-id vectors — at scale a k-means job produces
    * these; the assignment/probe plumbing is identical), ranked per vector
    * (crk = 1 is the home cell). Fully declarative: the 16 centroids
    * broadcast, no UDF, no driver-side collect; the per-vector rank is a
    * 16-row window. Rounding to 6dp before ranking makes the assignment
    * deterministic across engines (ties broken by centroid id).
    */
  private def ivfScoredWith(spark: SparkSession, sfDir: String,
      cents: DataFrame): DataFrame = {
    Tables.load(spark, sfDir, "embeddings")
      .crossJoin(broadcast(cents))
      .withColumn("ccos", round(cosineCol(col("embedding"), col("ce")), 6))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))))
  }

  private def ivfScored(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    ivfScoredWith(spark, sfDir, cents)
  }

  /** Shared IVF probe: home cell per candidate, nprobe=2 cells per query,
    * native cosine, row_number top-k.
    */
  private def ivfProbe(scored: DataFrame): DataFrame = {
    val asn = scored.filter(col("crk") === 1)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
        col("cid").as("cell"))
    val q = scored.filter(col("crk") <= 2 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("cid").as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos6").desc, col("neighbor_id"))
    broadcast(q).join(asn, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos6", round(cosineCol(col("qe"), col("ne")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos6"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Embedding cosine near-dup pairs: candidates = sharing ANY of their
    * top-2 IVF cells AND same label; the exact cosine is verified on
    * candidates only. The cell bounds the pair space — the round-1
    * all-pairs-within-label self-join was O(block^2) at web scale — and
    * multi-cell probing keeps recall up for vectors near a cell boundary.
    * The self-join recomputes the LINEAR assignment lineage twice (fine;
    * at scale you'd checkpoint the assignment table). Cosine rounded to
    * 6dp in the output so last-bit drift cannot flake the compare.
    */
  def dedupEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    val asn = ivfScored(spark, sfDir).filter(col("crk") <= 2)
    val a = asn.select(col("vec_id").as("a"), col("label"),
      col("embedding").as("ea"), col("cid").as("cell"))
    val b = asn.select(col("vec_id").as("b"), col("label"),
      col("embedding").as("eb"), col("cid").as("cell"))
    a.join(b, Seq("cell", "label"))
      .filter(col("a") < col("b"))
      .dropDuplicates("a", "b") // a pair can share both probed cells
      .withColumn("cosine", cosineCol(col("ea"), col("eb")))
      .filter(col("cosine") >= 0.4)
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cos6"))
      .orderBy(col("a"), col("b"))
  }

  val dedupEmbeddingSql: String =
    """WITH c AS (SELECT vec_id cid, embedding::DOUBLE[] ce FROM embeddings WHERE vec_id < 16),
      |s AS (SELECT e.vec_id, e.label, e.embedding::DOUBLE[] ve, c.cid,
      |        round(list_dot_product(e.embedding::DOUBLE[], c.ce) /
      |          (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      |           sqrt(list_dot_product(c.ce, c.ce))), 6) ccos
      |      FROM embeddings e, c),
      |r AS (SELECT vec_id, label, ve, cid,
      |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) rk FROM s),
      |asn AS (SELECT vec_id, label, ve, cid AS cell FROM r WHERE rk <= 2),
      |p AS (SELECT DISTINCT x.vec_id a, y.vec_id b,
      |        list_dot_product(x.ve, y.ve) /
      |        (sqrt(list_dot_product(x.ve, x.ve)) * sqrt(list_dot_product(y.ve, y.ve))) cosine
      |      FROM asn x JOIN asn y ON x.cell = y.cell AND x.label = y.label
      |      WHERE x.vec_id < y.vec_id)
      |SELECT a, b, round(cosine, 6) AS cos6 FROM p WHERE cosine >= 0.4
      |ORDER BY a, b""".stripMargin

  /** Brute-force cosine top-k: baseline ANN. Queries = vec_id < 20,
    * k = 5; ties broken by rounded cosine then neighbor id.
    */
  def annTopkBruteforce(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 20).toDF("query_id", "qe", "ql")
    val c = e.toDF("neighbor_id", "ne", "nl")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos6").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos6", round(cosineCol(col("qe"), col("ne")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos6"))
      .orderBy(col("query_id"), col("rk"))
  }

  val annTopkBruteforceSql: String =
    """WITH q AS (SELECT vec_id query_id, embedding::DOUBLE[] qe FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id neighbor_id, embedding::DOUBLE[] ne FROM embeddings),
      |s AS (SELECT query_id, neighbor_id,
      |        round(list_dot_product(qe, ne) /
      |          (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne))), 6) cos6
      |      FROM q, c WHERE query_id <> neighbor_id),
      |r AS (SELECT query_id, neighbor_id, cos6,
      |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) rk
      |      FROM s)
      |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, cos6 FROM r WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** The 8 LSH hyperplanes as deterministic hash-derived INTEGER weights
    * in [-8, 8]: integers cast to double exactly, and double(float) *
    * double(int) products summed in array order are bit-identical between
    * the native DotProduct expression and DuckDB's list_dot_product — so
    * the bucketing (a strict sign test, no rounding available) is exactly
    * oracle-expressible, unlike the former [-0.5,0.5) float weights whose
    * SQL text round-trip could drift a boundary sign.
    */
  private[ops] val lshPlanes: Array[Array[Int]] = Array.tabulate(8, 64) { (j, dim) =>
    val h = (j * 2654435761L + dim * 40503L) * 0x9e3779b97f4a7c15L
    (((h >>> 43) % 17).toInt + 17) % 17 - 8
  }

  /** LSH-bucketed ANN (the scale path): 8 deterministic pseudo-random
    * hyperplanes -> 8-bit bucket; candidates searched within the query's
    * bucket plus all 1-bit-flip neighbor buckets (multi-probe). Recall vs
    * brute force is measured in OpsSpec; the bucketing + probe + rank is
    * verified exactly by the DuckDB oracle (integer hyperplanes).
    */
  def annLshBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
    val planes: Array[Array[Double]] = lshPlanes.map(_.map(_.toDouble))
    // hyperplane side test as NATIVE column algebra: the codegen'd dot
    // product against 8 plane literals replaces the old Scala UDF —
    // bucket bit j set iff the vector lies on plane j's positive side.
    // (Dot, not cosine: a zero vector dots to 0.0, never NaN — Spark
    // orders NaN above every value, which would flip such a bucket to
    // 255 — and it skips two norms and a divide per plane.)
    val bucketCol = planes.zipWithIndex.map { case (p, j) =>
      when(graft.functions.GraftFunctions.dot(
        col("embedding"), typedlit(p.toSeq)) > 0, 1 << j).otherwise(0)
    }.reduce(_ + _)
    val withBucket = e.withColumn("bucket", bucketCol)
    val q = withBucket.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(array((0 to 8).map(i =>
          if (i == 0) col("bucket") else col("bucket").bitwiseXOR(1 << (i - 1))): _*))
          .as("bucket"))
    val cand = withBucket.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos6").desc, col("neighbor_id"))
    broadcast(q).join(cand, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos6", round(cosineCol(col("qe"), col("ne")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos6"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** The LSH oracle replicates the bucketing bit-for-bit: the plane
    * weights are integer literals, xor() probes the 9 multi-probe buckets,
    * and a neighbor's single home bucket matches at most one probe so no
    * dedup is needed (same as the Spark side).
    */
  val annLshBucketedSql: String = {
    val planeLits = lshPlanes.map(_.mkString("[", ", ", "]::DOUBLE[]"))
    val bucketExpr = planeLits.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product(ve, $p) > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("\n        + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] ve FROM embeddings),
       |b AS (SELECT vec_id, ve,
       |        $bucketExpr AS bucket
       |      FROM e),
       |q AS (SELECT vec_id query_id, ve qe, xor(bucket, f) bucket
       |      FROM b, (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS f)
       |      WHERE vec_id < 20),
       |s AS (SELECT q.query_id, c.vec_id neighbor_id,
       |        round(list_dot_product(q.qe, c.ve) /
       |          (sqrt(list_dot_product(q.qe, q.qe)) *
       |           sqrt(list_dot_product(c.ve, c.ve))), 6) cos6
       |      FROM q JOIN b c USING (bucket) WHERE q.query_id <> c.vec_id),
       |r AS (SELECT query_id, neighbor_id, cos6,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cos6 DESC, neighbor_id) rk FROM s)
       |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, cos6
       |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** IVF-style ANN (the other scale path next to LSH): the shared coarse
    * quantizer (ivfScored) assigns every vector to its home cell; queries
    * probe their nprobe=2 nearest cells. The candidate set per query is
    * bounded by cell occupancy — corpus^2 never materializes. Fully
    * declarative (no UDF, no driver collect), so it is also
    * DuckDB-expressible and carries an exact oracle. Recall vs brute force
    * is measured in OpsSpec.
    */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame =
    ivfProbe(ivfScored(spark, sfDir))

  /** IVF with a REAL coarse quantizer: deterministic Lloyd k-means
    * (Kmeans.fit, 2 iterations over the lowest-id init) replaces the
    * lowest-id centroid stand-in — the trained-quantizer path a 100 TB
    * deployment runs. Same probe plumbing as ann_ivf; recall vs brute
    * force measured in OpsSpec. rows-only at the gate (iterative float
    * means are not practically DuckDB-replicable).
    */
  /** IVF with a TRAINED coarse quantizer: 2 Lloyd iterations of
    * integer-spherical k-means (Kmeans.fitIntSpherical — quantized
    * vectors, integer-sum centroids; every intermediate exact in both
    * engines), then the shared IVF probe. Exact DuckDB oracle since
    * round 4: the chained-CTE Lloyd loop below reproduces the training
    * bit-for-bit because no iterated float mean ever exists.
    */
  def annIvfKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "embeddings")
    val cents = Kmeans.centroidsDf(spark, Kmeans.fitIntSpherical(e, 16, 2))
    ivfProbe(ivfScoredWith(spark, sfDir, cents))
  }

  /** One Lloyd iteration as a CTE pair: assign to the best centroid by
    * rounded cosine, then per-dimension integer sums (empty cells keep
    * the previous centroid).
    */
  private def lloydIterSql(prev: String, out: String): String =
    s"""a_$out AS (SELECT q.vec_id, q.v, c.cid,
       |        ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |          round(list_dot_product(q.v, c.c) /
       |            (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.c, c.c))), 6) DESC,
       |          c.cid) rk
       |      FROM qv q, $prev c),
       |s_$out AS (SELECT cid, d, CAST(SUM(x) AS DOUBLE) sx FROM (
       |        SELECT cid, unnest(v) x, unnest(range(1, len(v)+1)) d
       |        FROM a_$out WHERE rk = 1) GROUP BY cid, d),
       |$out AS (SELECT p.cid, COALESCE(s.c, p.c) c FROM $prev p LEFT JOIN
       |        (SELECT cid, list(sx ORDER BY d) c FROM s_$out GROUP BY cid) s
       |        ON p.cid = s.cid)""".stripMargin

  val annIvfKmeansSql: String =
    s"""WITH qv AS (SELECT vec_id,
      |        list_transform(embedding::DOUBLE[], x -> CAST(round(x * 256) AS DOUBLE)) v
      |      FROM embeddings),
      |c0 AS (SELECT vec_id cid, v c FROM qv WHERE vec_id < 16),
      |${lloydIterSql("c0", "c1")},
      |${lloydIterSql("c1", "c2")},
      |s AS (SELECT e.vec_id, e.embedding::DOUBLE[] ve, c.cid,
      |        round(list_dot_product(e.embedding::DOUBLE[], c.c) /
      |          (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      |           sqrt(list_dot_product(c.c, c.c))), 6) ccos
      |      FROM embeddings e, c2 c),
      |r AS (SELECT vec_id, ve, cid,
      |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) rk FROM s),
      |asn AS (SELECT vec_id AS neighbor_id, ve AS ne, cid AS cell FROM r WHERE rk = 1),
      |q AS (SELECT vec_id AS query_id, ve AS qe, cid AS cell
      |      FROM r WHERE rk <= 2 AND vec_id < 20),
      |sc AS (SELECT q.query_id, a.neighbor_id,
      |         round(list_dot_product(q.qe, a.ne) /
      |           (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(a.ne, a.ne))), 6) cos6
      |       FROM q JOIN asn a ON q.cell = a.cell WHERE q.query_id <> a.neighbor_id),
      |rr AS (SELECT query_id, neighbor_id, cos6,
      |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) rk FROM sc)
      |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, cos6 FROM rr WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  val annIvfSql: String =
    """WITH c AS (SELECT vec_id cid, embedding::DOUBLE[] ce FROM embeddings WHERE vec_id < 16),
      |s AS (SELECT e.vec_id, e.embedding::DOUBLE[] ve, c.cid,
      |        round(list_dot_product(e.embedding::DOUBLE[], c.ce) /
      |          (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      |           sqrt(list_dot_product(c.ce, c.ce))), 6) ccos
      |      FROM embeddings e, c),
      |r AS (SELECT vec_id, ve, cid,
      |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) rk FROM s),
      |asn AS (SELECT vec_id AS neighbor_id, ve AS ne, cid AS cell FROM r WHERE rk = 1),
      |q AS (SELECT vec_id AS query_id, ve AS qe, cid AS cell
      |      FROM r WHERE rk <= 2 AND vec_id < 20),
      |sc AS (SELECT q.query_id, a.neighbor_id,
      |         round(list_dot_product(q.qe, a.ne) /
      |           (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(a.ne, a.ne))), 6) cos6
      |       FROM q JOIN asn a ON q.cell = a.cell WHERE q.query_id <> a.neighbor_id),
      |rr AS (SELECT query_id, neighbor_id, cos6,
      |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) rk FROM sc)
      |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, cos6 FROM rr WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** Hybrid retrieval: keyword score (distinct query-term hits over the
    * token set) fused with vector similarity (cosine to a fixed query
    * embedding) by reciprocal-rank fusion, the standard
    * lexical-plus-dense retrieval composition. Deterministic: fixed query
    * terms, query vector = embedding of id 0, ties broken by doc id.
    * The candidate CUT comes first: only docs with a lexical hit OR
    * cosine above threshold enter the rankings, and each ranking reads a
    * top-N list, never the corpus — the shape that survives 100x (the
    * corpus-wide scan is map-only). The oracle applies the identical cut.
    */
  private val hybridCosCut = 0.15

  /** Per-side candidate-list bound for RRF fusion: each retrieval side
    * contributes its TOP-N only (classic bounded-list RRF), so the
    * rankings see at most N rows per side no matter the corpus size —
    * the threshold filter alone is a score cut, not a size bound, and
    * would grow linearly with the corpus.
    */
  private[graft] val hybridTopN = 1000

  def hybridSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val kwTerms = Seq("spark", "join", "window")
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), array_distinct(toks(col("text"))).as("ts"))
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val kwScore = kwTerms.map(t =>
      when(array_contains(col("ts"), t), 1).otherwise(0)).reduce(_ + _)
    val scored = d.join(e, col("doc_id") === col("vec_id"))
      .crossJoin(broadcast(qv))
      .filter(col("doc_id") =!= 0)
      .withColumn("kw_score", kwScore)
      .withColumn("cos6", round(cosineCol(col("embedding"), col("qe")), 6))
      // candidate cut (mirrored in the oracle), then the HARD top-N bound
      .filter(col("kw_score") >= 1 || col("cos6") >= hybridCosCut)
      .select(col("doc_id"), col("kw_score"), col("cos6"))
      // materialize the survivor set ONCE: both per-side top-N cuts read
      // the cached blocks instead of re-running the scan + join + cosine
      // (two independent orderBy/limit branches would otherwise execute
      // the expensive corpus pass twice). LAZY: plan construction (e.g.
      // PlanDump) must not side-effect a corpus job — the first action
      // materializes, the second branch reuses.
      .localCheckpoint(false)
    // orderBy+limit compiles to TakeOrderedAndProject: per-partition
    // partial top-N then a bounded merge — no global sort exchange. The
    // rankings below therefore read <= N rows per side.
    val kwTop = rankTop(scored, "kw_score", hybridTopN, "kw_rank")
    val vecTop = rankTop(scored, "cos6", hybridTopN, "vec_rank")
      .select(col("doc_id").as("v_doc_id"), col("kw_score").as("v_kw_score"),
        col("cos6").as("v_cos6"), col("vec_rank"))
    // bounded-list RRF: a document absent from one side's list gets no
    // contribution from that side
    kwTop.join(vecTop, col("doc_id") === col("v_doc_id"), "full_outer")
      .select(
        coalesce(col("doc_id"), col("v_doc_id")).as("doc_id"),
        coalesce(col("kw_score"), col("v_kw_score")).as("kw_score"),
        coalesce(col("cos6"), col("v_cos6")).as("cos6"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("kw_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)), 8).as("rrf"))
      .transform(rankTop(_, "rrf", 20, "rk"))
      .select(col("rk"), col("doc_id"), col("kw_score"), col("cos6"), col("rrf"))
      .orderBy(col("rk"))
  }

  /** `row_number()` over (key DESC, doc_id) as `rank`, for the top `n`
    * rows only, without a partition-less window: the top-n list is
    * gathered into one array, sorted descending on (key, -doc_id) — the
    * same order, with a null key last — and exploded with positions.
    */
  private def rankTop(df: DataFrame, key: String, n: Int, rank: String): DataFrame = {
    val cols = df.columns.toSeq
    df.orderBy(col(key).desc, col("doc_id")).limit(n)
      .agg(sort_array(collect_list(struct(
        (col(key).as("_key") +: (-col("doc_id")).as("_neg_id") +: cols.map(col)): _*)),
        asc = false).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "row")))
      .select(((col("pos") + 1).as(rank) +: cols.map(c => col(s"row.$c").as(c))): _*)
  }

  val hybridSearchSql: String =
    s"""WITH q AS (SELECT embedding::DOUBLE[] qe FROM embeddings WHERE vec_id = 0),
      |s AS (SELECT d.doc_id,
      |        CAST((CASE WHEN list_contains(list_distinct(string_split(d.text,' ')), 'spark') THEN 1 ELSE 0 END)
      |          + (CASE WHEN list_contains(list_distinct(string_split(d.text,' ')), 'join') THEN 1 ELSE 0 END)
      |          + (CASE WHEN list_contains(list_distinct(string_split(d.text,' ')), 'window') THEN 1 ELSE 0 END) AS INT) kw_score,
      |        round(list_dot_product(e.embedding::DOUBLE[], q.qe) /
      |          (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      |           sqrt(list_dot_product(q.qe, q.qe))), 6) cos6
      |      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id, q
      |      WHERE d.doc_id <> 0),
      |surv AS (SELECT doc_id, kw_score, cos6 FROM s
      |      WHERE kw_score >= 1 OR cos6 >= CAST($hybridCosCut AS DOUBLE)),
      |r_kw AS (SELECT doc_id, kw_score, cos6,
      |        ROW_NUMBER() OVER (ORDER BY kw_score DESC, doc_id) kw_rank
      |      FROM surv QUALIFY kw_rank <= $hybridTopN),
      |r_vec AS (SELECT doc_id, kw_score, cos6,
      |        ROW_NUMBER() OVER (ORDER BY cos6 DESC, doc_id) vec_rank
      |      FROM surv QUALIFY vec_rank <= $hybridTopN),
      |f AS (SELECT COALESCE(k.doc_id, v.doc_id) doc_id,
      |        COALESCE(k.kw_score, v.kw_score) kw_score,
      |        COALESCE(k.cos6, v.cos6) cos6,
      |        round(COALESCE(1.0 / (60 + k.kw_rank), 0)
      |            + COALESCE(1.0 / (60 + v.vec_rank), 0), 8) rrf
      |      FROM r_kw k FULL OUTER JOIN r_vec v ON k.doc_id = v.doc_id),
      |t AS (SELECT doc_id, kw_score, cos6, rrf,
      |        ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) rk FROM f)
      |SELECT CAST(rk AS INT) AS rk, doc_id, kw_score, cos6, rrf
      |FROM t WHERE rk <= 20 ORDER BY rk""".stripMargin

  /** Language ID by character-bigram profile scoring (n-gram heuristic),
    * expressed as pure column algebra (no UDF): bigrams per doc once, one
    * hit-ratio per profile, argmax by (score desc, lang asc) via a sorted
    * struct array. The test tables' `lang` labels are synthetic so this is
    * judged against the same-definition DuckDB oracle, not accuracy.
    */
  def docLangId(spark: SparkSession, sfDir: String): DataFrame = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "de" -> Seq("en", "er", "ch", "de", "ei", "ie", "in", "te", "nd", "ge"),
      "en" -> Seq("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd"),
      "es" -> Seq("de", "en", "os", "es", "la", "ar", "el", "ra", "as", "ue"),
      "fr" -> Seq("es", "le", "de", "en", "re", "nt", "on", "er", "ou", "ai"),
      "zh" -> Seq.empty)
    val t = lower(col("text"))
    val bg = transform(sequence(lit(1), length(t) - 1), i => t.substr(i, lit(2)))
    // negated score sorts ascending = score descending, then lang ascending
    val ranked = array_sort(array(profiles.map { case (lang, prof) =>
      val hits =
        if (prof.isEmpty) lit(0.0)
        else size(filter(col("bg"), x => x.isin(prof: _*))).cast("double")
      struct((lit(0.0) - hits / size(col("bg"))).as("neg"), lit(lang).as("lang"))
    }: _*))
    // one row per document, ALWAYS: sub-bigram docs predict ("und", 0.0)
    // instead of silently vanishing from the output
    val isLong = length(col("text")) >= 2
    Tables.load(spark, sfDir, "documents")
      .withColumn("bg", bg)
      .withColumn("best", ranked.getItem(0))
      .select(col("doc_id"),
        when(isLong, col("best.lang")).otherwise(lit("und")).as("predicted_lang"),
        when(isLong, round(lit(0.0) - col("best.neg"), 4)).otherwise(lit(0.0))
          .as("confidence"))
      .orderBy(col("doc_id"))
  }

  val docLangIdSql: String =
    """WITH d AS (SELECT doc_id, lower(text) t FROM documents WHERE length(text) >= 2),
      |b AS (SELECT doc_id,
      |        list_transform(generate_series(1, length(t) - 1), i -> substr(t, i, 2)) bg
      |      FROM d),
      |-- sub-bigram docs fall out of d and rejoin as ('und', 0.0) at the end
      |l(lang, prof) AS (VALUES
      |  ('de', ['en','er','ch','de','ei','ie','in','te','nd','ge']),
      |  ('en', ['th','he','in','er','an','re','on','at','en','nd']),
      |  ('es', ['de','en','os','es','la','ar','el','ra','as','ue']),
      |  ('fr', ['es','le','de','en','re','nt','on','er','ou','ai']),
      |  ('zh', []::VARCHAR[])),
      |s AS (SELECT doc_id, lang,
      |        CAST(len(list_filter(bg, x -> list_contains(prof, x))) AS DOUBLE) / len(bg) score
      |      FROM b, l),
      |r AS (SELECT doc_id, lang, score,
      |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) rk FROM s),
      |best AS (SELECT doc_id, lang, score FROM r WHERE rk = 1)
      |SELECT doc.doc_id, COALESCE(best.lang, 'und') AS predicted_lang,
      |  COALESCE(round(best.score, 4), 0.0) AS confidence
      |FROM documents doc LEFT JOIN best ON doc.doc_id = best.doc_id
      |ORDER BY doc.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_token_count" -> (docTokenCount _),
    "doc_token_count_bpe" -> (docTokenCountBpe _),
    "doc_quality" -> (docQuality _),
    "doc_fingerprint" -> (docFingerprint _),
    "doc_lang_id" -> (docLangId _),
    "doc_repetition" -> (docRepetition _),
    "dedup_exact" -> (dedupExact _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_token_jaccard" -> (dedupTokenJaccard _),
    "dedup_cc_clusters" -> (dedupCcClusters _),
    "dedup_canonical" -> (dedupCanonical _),
    "dedup_embedding" -> (dedupEmbedding _),
    "ann_topk_bruteforce" -> (annTopkBruteforce _),
    "ann_lsh_bucketed" -> (annLshBucketed _),
    "ann_ivf" -> (annIvf _),
    "ann_ivf_kmeans" -> (annIvfKmeans _),
    "hybrid_search" -> (hybridSearch _))

  val oracleSql: Map[String, String] = Map(
    "doc_token_count" -> docTokenCountSql,
    "doc_token_count_bpe" -> docTokenCountBpeSql,
    "doc_quality" -> docQualitySql,
    "doc_fingerprint" -> docFingerprintSql,
    "doc_repetition" -> docRepetitionSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_token_jaccard" -> dedupTokenJaccardSql,
    "dedup_cc_clusters" -> dedupCcClustersSql,
    "dedup_canonical" -> dedupCanonicalSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "ann_topk_bruteforce" -> annTopkBruteforceSql,
    "ann_ivf" -> annIvfSql,
    "ann_lsh_bucketed" -> annLshBucketedSql,
    "doc_lang_id" -> docLangIdSql,
    "hybrid_search" -> hybridSearchSql,
    // exact since round 4: integer-spherical training removed the
    // iterated-float-mean drift that kept this rows-only
    "ann_ivf_kmeans" -> annIvfKmeansSql)
}
