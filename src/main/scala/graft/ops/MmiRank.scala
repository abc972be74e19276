package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast

import graft.umls.UmlsTables

/** MMI-style concept ranking (R1-R5, /root/reference/mmi/mmi.pl:781-921),
  * re-expressed as declarative aggregation + column algebra (codegen'd —
  * no UDFs in the scoring path).
  *
  * Parameters (mmi.pl:184-196): nf=-5, nmm=-10, wm=14, wmm=1, nc=nm=nw=nz=0,
  * wc=ww=0, wd=1, MaxFreq init 13; divisors: tree-depth 9, word 26,
  * char 102 (the reference reads these from env; we pin the historical
  * defaults documented in mmi.pl:858-877). set_aatf_rank's TitleFlag
  * branch (rank = Spec without the frequency factor when the concept
  * appears in a MEDLINE ti field, mmi.pl:893-898) is structurally N/A
  * here: web pages process as free text, every tuple field is tx.
  */
object MmiRank {

  /** normalize_value/3 (mmi.pl:818-842) as column algebra. Value clamped
    * to [0,1]; N=0 -> identity; N<0 -> log-squash; N>0 -> exp-squash.
    */
  def normalizeValue(n: Double, value: Column): Column = {
    val v = least(lit(1.0), greatest(lit(0.0), value))
    if (n == 0.0) v
    else if (n > 0) {
      val en = math.exp(n)
      val a = en + 1.0
      val b = en - 1.0
      lit(a / b) * (lit(1.0) - exp(lit(-n) * v)) / (lit(1.0) + exp(lit(-n) * v))
    } else {
      val m = -n
      val em = math.exp(m)
      val a = em + 1.0
      val b = em - 1.0
      log((lit(a) + lit(b) * v) / (lit(a) - lit(b) * v)) / lit(m)
    }
  }

  /** Per-CUI MeSH tree depth (max node count over the concept's
    * treecodes) — THE depth definition for R3 specificity; shared with
    * the oracle-aux dim dump (KgOracleTables) so the engine and the
    * DuckDB recomputation can never drift.
    */
  def treecodeDepths(umls: UmlsTables): Seq[(String, Int)] =
    umls.treecodes.toSeq
      .map { case (c, tcs) => (c, tcs.map(_.split('.').length).max) }

  /** The mention's StartPos/Length chunk string ("228/9,235/9"): posInfo
    * spans when present, the single (start, len) extent otherwise — one
    * shared Column expression so the checkpoint writer and the fielded
    * builder can never render differently.
    */
  def posChunkCol: Column =
    when(size(col("posInfo")) === 0,
      concat(col("start"), lit("/"), col("len")))
      .otherwise(concat_ws(",",
        transform(col("posInfo"),
          p => concat(p("_1"), lit("/"), p("_2")))))

  /** Fielded MMI lines in the reference's full dump_output layout
    * (mmi.pl:907-1005):
    * `UI|MMI|score|Concept|CUI|[STs]|[tuples]|Fields|PosInfo|TreeCodes`
    * with one `"Term"-tx-NSent-"Text"-LexCat-Neg` tuple per distinct
    * mention shape. Tuple construction follows the reference:
    * occurrences with identical (Term, NSent, Text, LexCat, Neg)
    * consolidate, merging their position chunks in span order
    * (consolidate_pos_info_data, mmi.pl:614-640); tuples then sort
    * field-first, utterance DESCENDING within a field, standard term
    * order within a tie (reverse_sort_tuples' stable keysort over the
    * pre-sorted tuple list, mmi.pl:988-1005); position chunks ride along
    * ';'-separated in tuple order; the fields atom is the web corpus'
    * single free-text field TX; treecodes are the CUI's MeSH codes
    * ';'-joined (print_treecode_info). Everything downstream of the
    * mention table is plain column algebra + two keyed aggregations, so
    * the DuckDB oracle recomputes it from the same checkpoint.
    */
  /** The PMID|AA / PMID|UA lines --fielded_mmi_output writes per
    * citation BEFORE the concept lines (do_MMI_processing,
    * /root/reference/mmi/mmi.pl:140-147; layout write_AA_data /
    * output_fields with FirstField = pmid, text_objects.pl:716-745):
    * `UI|AA|AAText|Expansion|AATokenLen|AATextLen|ExpTokenLen|
    * ExpTextLen|Start:Len`, UDAs typed UA with empty posinfo. Built
    * straight from the --dump_aas rows so the two surfaces can never
    * disagree on an AA's fields.
    */
  def fieldedAaLines(aaDump: DataFrame): DataFrame =
    aaDump.select(col("url"),
      concat_ws("|", col("url"),
        when(col("pos_info") === lit(""), lit("UA")).otherwise(lit("AA")),
        col("aa_text"), col("exp_text"), col("aa_tokens"), col("aa_length"),
        col("exp_tokens"), col("exp_length"), col("pos_info")).as("line"))

  def fielded(mentions: DataFrame, umls: Broadcast[UmlsTables]): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val ranked = rank(mentions, umls)
    val tcDf = umls.value.treecodes.toSeq
      .map { case (c, tcs) => (c, tcs.sorted.mkString(";")) }
      .toDF("tc_cui", "tc_codes")
    // consolidation: distinct (mention-shape, start, chunk) rows, then
    // chunks merged in (start, chunk) order per shape
    val consolidated = mentions
      .withColumn("neg", when(col("negated"), lit(1)).otherwise(lit(0)))
      .withColumn("pos_str", posChunkCol)
      .select(col("url"), col("cui"), col("term"), col("sentNo"),
        col("text"), col("lexCat"), col("neg"), col("start"), col("pos_str"))
      .distinct()
      .groupBy(col("url"), col("cui"), col("term"), col("sentNo"),
        col("text"), col("lexCat"), col("neg"))
      .agg(concat_ws(",",
        transform(
          array_sort(collect_list(struct(col("start").as("s"),
            col("pos_str").as("p")))),
          e => e("p"))).as("chunk"))
    // one sort key drives both ';'-joined columns: field (constant tx),
    // -NSent, then standard tuple order
    val tupleStr = concat(
      lit("\""), col("term"), lit("\"-tx-"), col("sentNo"), lit("-\""),
      col("text"), lit("\"-"), col("lexCat"), lit("-"), col("neg"))
    val keyed = struct((-col("sentNo")).as("k1"), col("term").as("k2"),
      col("text").as("k3"), col("lexCat").as("k4"), col("neg").as("k5"),
      tupleStr.as("ts"), col("chunk").as("ch"))
    val tuples = consolidated
      .groupBy(col("url"), col("cui"))
      .agg(
        concat_ws(",", transform(array_sort(collect_list(keyed)), e => e("ts")))
          .as("tuples"),
        concat_ws(";", transform(array_sort(collect_list(keyed)), e => e("ch")))
          .as("posinfo"))
    ranked
      .join(tuples, Seq("url", "cui"))
      .join(broadcast(tcDf), col("cui") === col("tc_cui"), "left")
      .select(col("url"),
        concat_ws("|", col("url"), lit("MMI"),
          format_string("%.2f", col("mmi_score")), col("concept"), col("cui"),
          concat(lit("["), concat_ws(",", col("sem_types")), lit("]")),
          concat(lit("["), col("tuples"), lit("]")), lit("TX"),
          col("posinfo"), coalesce(col("tc_codes"), lit(""))).as("line"))
  }

  /** Rank concepts per document from the WSD-deduped mention table
    * (columns: url, sentNo, cui, score, negated...).
    */
  def rank(mentions: DataFrame, umls: Broadcast[UmlsTables]): DataFrame = {
    // preferred names come from the table broadcast the job already holds
    // (Pipeline.preferredName): at real Metathesaurus scale the map holds
    // ~10^7 CUIs, and a driver-side relation of it would be collected,
    // planned and broadcast a second time. Tree depths, one row per CUI
    // with MeSH codes, join as a broadcast relation.
    val spark = mentions.sparkSession
    import spark.implicits._
    val depthDf = treecodeDepths(umls.value).toDF("cui", "tree_depth")

    // mm_value = MEAN of the mention scores (r6 audit): the reference
    // averages Values at tf0 consolidation (compute_average, mmi.pl:588)
    // and collapse_tf's frequency-weighted average of those group means
    // (mmi.pl:752,770-779) reduces to the plain mean over all mentions.
    // Computed as exact-integer sum / count so the DuckDB oracle's
    // identical expression is IEEE-bit-equal.
    val tf = mentions.groupBy(col("url"), col("cui"))
      .agg(count(lit(1)).as("freq_count"),
        (sum(col("score")).cast("double") /
          count(lit(1)).cast("double")).as("mm_value"),
        // sorted: collect_list order depends on task arrival — the sort
        // makes the display column deterministic (and oracle-comparable)
        array_sort(array_distinct(flatten(collect_list(col("semTypes")))))
          .as("sem_types"))
      .withColumn("concept", graft.pipeline.Pipeline.preferredName(umls)(col("cui")))
      .join(broadcast(depthDf), Seq("cui"), "left")
    val withMax = tf.withColumn("max_freq",
      greatest(lit(13), max(col("freq_count"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("url")))))

    val depth = coalesce(col("tree_depth"), lit(1))
    val nFreq = normalizeValue(-5, col("freq_count").cast("double") / col("max_freq"))
    val nmmSpec = normalizeValue(-10, col("mm_value").cast("double") / 1000.0)
    val mSpec = normalizeValue(0, depth.cast("double") / 9.0)
    val wSpec = normalizeValue(0,
      size(split(col("concept"), " ")).cast("double") / 26.0)
    val cSpec = normalizeValue(0, length(col("concept")).cast("double") / 102.0)
    // compute_weighted_value([wmm=1, wm=14, ww=0, wc=0], ...) / 15
    val spec = (nmmSpec * 1.0 + mSpec * 14.0 + wSpec * 0.0 + cSpec * 0.0) / 15.0

    withMax
      .withColumn("mmi_score", round(nFreq * spec * 1000.0, 2))
      .select(col("url"), col("cui"), col("concept"), col("sem_types"),
        col("freq_count"), col("mm_value"), col("mmi_score"))
      .orderBy(col("url"), col("mmi_score").desc, col("cui"))
  }
}
