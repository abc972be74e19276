package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast

import graft.link.{LinkOptions, Mention}
import graft.text.Extract
import graft.umls.{MiniUmls, UmlsTables}

/** A web page row (BASELINE.json input_hint schema). */
final case class Page(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
    text: String, lang: String)

/** End-to-end KG-construction pipeline (SURVEY.md §3.4):
  * pages -> byte-identical text extraction -> per-document NLP kernel
  * (broadcast UMLS tables) -> mention Dataset -> window-ranked WSD dedup ->
  * canonicalization -> sentence-window pair join -> semnet predicate join
  * -> triples.
  *
  * Control crosses executors only at: the initial scan, the one
  * mention-pair shuffle, and the final write — everything else is map-side.
  */
object Pipeline {

  // the fixture tables' broadcast and, weakly so that a stopped context
  // is not kept reachable from here, the SparkContext it belongs to
  private var tablesContext = new java.lang.ref.WeakReference[SparkContext](null)
  private var tablesBroadcast: Broadcast[UmlsTables] = null

  /** The broadcast of `MiniUmls.tables` on `spark`'s SparkContext: one per
    * live context, made on first use and made again once that context has
    * stopped, so every gate query and test of a session shares it. No
    * library entry calls it: each takes the table broadcast it runs on.
    */
  def broadcastUmls(spark: SparkSession): Broadcast[UmlsTables] = synchronized {
    val sc = spark.sparkContext
    if ((tablesContext.get eq sc) && !sc.isStopped) tablesBroadcast
    else {
      tablesBroadcast = sc.broadcast(MiniUmls.tables)
      tablesContext = new java.lang.ref.WeakReference(sc)
      tablesBroadcast
    }
  }

  /** The per-document operator every page, table, streaming and writer
    * entry runs through: the broadcast tables dereferenced once per
    * partition, a row whose `text` is null skipped, then `f`, which calls
    * a record function over the row's id and text.
    */
  def perDocument[I, T: Encoder](rows: Dataset[I], umls: Broadcast[UmlsTables])(
      text: I => String)(f: (I, String, UmlsTables) => IterableOnce[T]): Dataset[T] =
    rows.mapPartitions { it =>
      val t = umls.value
      it.flatMap { r =>
        val s = text(r)
        if (s == null) Iterator.empty else f(r, s, t)
      }
    }

  /** A page's text for [[perDocument]]: extracted from its html, or null
    * for a non-English page (FIXTURES.md: it yields nothing).
    */
  def pageText(p: Page): String = if (p.lang != "en") null else Extract.htmlToText(p.html)

  /** Stage 2: per-document mention detection on the record path. */
  def mentions(pages: Dataset[Page], umls: Broadcast[UmlsTables])(
      implicit spark: SparkSession): Dataset[Mention] = {
    import spark.implicits._
    perDocument(pages, umls)(pageText)((p, text, t) =>
      DocKernel.annotate(p.url, text, t, LinkOptions.default))
  }

  /** The WSD tie-break prior over a mention's semTypes column, as pure
    * column algebra (no UDF): the priority table is ~130 entries at real
    * scale — a map literal keeps the plan constant and the projection
    * codegen-friendly. Shared by wsdDedup and the oracle-aux mention dump.
    */
  def stPrioCol(umls: UmlsTables): org.apache.spark.sql.Column = {
    val prioMap = typedlit(umls.semTypePriority)
    coalesce(array_min(transform(col("semTypes"),
      st => coalesce(element_at(prioMap, st), lit(99)))), lit(99))
  }

  /** Stage 3: WSD as window-ranked dedup per mention span (SURVEY §2.11 W1):
    * exactly one CUI survives per (url, sent, start, len); ties broken by
    * score desc, then semantic-type prior, then CUI — all deterministic, so
    * results are invariant under repartitioning.
    */
  def wsdDedup(mentions: Dataset[Mention], umls: Broadcast[UmlsTables])(
      implicit spark: SparkSession): DataFrame =
    wsdWindow(mentions.toDF().withColumn("stPrio", stPrioCol(umls.value)), "stPrio")
      .drop("stPrio")

  /** [[wsdDedup]]'s window over a mention table whose prior is column
    * `prio`; the gate's `kg_wsd_dedup` reads that column from its checkpoint.
    */
  def wsdWindow(mentions: DataFrame, prio: String): DataFrame = {
    val w = Window.partitionBy(col("url"), col("sentNo"), col("start"), col("len"))
      .orderBy(col("score").desc, col(prio), col("cui"))
    mentions.withColumn("rk", row_number().over(w)).filter(col("rk") === 1).drop("rk")
  }

  /** Stage 4: triples. Non-negated mentions pair within (url, sentNo) in
    * textual order; the semantic network licenses the predicate per
    * (subjST, objST) in either direction, canonical direction preferred
    * (preferred_relation / relation_inverse,
    * /root/reference/lib/semnet_access_2020AA.pl:37-128).
    *
    * Physical shape: the pair join is an equi-join on (url, sentNo) —
    * partition-local after one shuffle; the semnet joins are
    * broadcasts. AQE handles skew; high-frequency CUIs cannot
    * blow a single key because the join key is (url, sentNo), whose
    * cardinality scales with the corpus, not with CUI popularity.
    */
  /** Canonical-direction semnet rows (st1, rel, st2) — shared by the
    * triple join and the oracle-aux dim dump (KgOracleTables).
    */
  def semnetRows(umls: UmlsTables): Seq[(String, String, String)] =
    umls.semnet.toSeq.flatMap { case ((s1, s2), rels) =>
      rels.filter(umls.preferredRelations.contains).map(r => (s1, r, s2))
    }

  def triples(wsdMentions: DataFrame, umls: Broadcast[UmlsTables])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val m = wsdMentions.filter(!col("negated"))
      .select(col("url"), col("sentNo"), col("start"), col("cui"),
        explode(col("semTypes")).as("st"))

    val a = m.toDF("url", "sentNo", "a_start", "subj_cui", "subj_st")
    val b = m.toDF("url", "sentNo", "b_start", "obj_cui", "obj_st")
    val pairs = a.join(b, Seq("url", "sentNo"))
      .filter(col("a_start") < col("b_start") && col("subj_cui") =!= col("obj_cui"))

    // broadcast semnet relation table, canonical direction only
    val semnetDf = semnetRows(umls.value).toDF("st1", "rel", "st2")

    // forward: subj semtype relates to obj semtype
    val fwd = pairs.join(broadcast(semnetDf),
      col("subj_st") === col("st1") && col("obj_st") === col("st2"))
      .select(col("subj_cui"), col("rel").as("pred"), col("obj_cui"),
        col("url"), col("sentNo"))
    // reverse: the canonical (preferred) relation runs obj -> subj
    val rev = pairs.join(broadcast(semnetDf),
      col("obj_st") === col("st1") && col("subj_st") === col("st2"))
      .select(col("obj_cui").as("subj_cui"), col("rel").as("pred"),
        col("subj_cui").as("obj_cui"), col("url"), col("sentNo"))

    fwd.unionByName(rev).distinct()
  }

  /** A CUI column's preferred name from the table broadcast the job
    * already holds, as `coalesce(name, cui)`: no driver-side relation of
    * every CUI and no join. Every name lookup uses it.
    */
  def preferredName(umls: Broadcast[UmlsTables]): UserDefinedFunction =
    udf((cui: String) =>
      if (cui == null) null else umls.value.cuiPreferred.getOrElse(cui, cui))

  /** Stage 5: canonicalized graph materialization — one row per
    * (subj, pred, obj) with evidence counts and preferred names from the
    * broadcast MRCONSO-style map.
    */
  def graph(triples: DataFrame, umls: Broadcast[UmlsTables])(
      implicit spark: SparkSession): DataFrame = {
    // a count prunes the name lookup
    val pref = preferredName(umls)
    // Two-stage aggregation: stage 1 keys on (triple, url), whose
    // cardinality grows with the corpus — a hot triple (popular CUI pair)
    // cannot pile onto one reducer, which is the explicit skew defusal
    // the north_rule asks for (the (triple) key alone would skew at
    // 10^12 docs). Stage 2 then folds the per-url partials; countDistinct
    // becomes a plain count over the stage-1 keys.
    triples
      .groupBy(col("subj_cui"), col("pred"), col("obj_cui"), col("url"))
      .agg(count(lit(1)).as("n_url_evidence"))
      .groupBy(col("subj_cui"), col("pred"), col("obj_cui"))
      .agg(sum(col("n_url_evidence")).as("n_evidence"),
        count(lit(1)).as("n_docs"))
      .withColumn("subj_name", pref(col("subj_cui")))
      .withColumn("obj_name", pref(col("obj_cui")))
  }

  /** Full run: pages -> triples, fully map-side (DocTriples scaladoc):
    * WSD dedup and the sentence-window pair expansion are document-local,
    * so the default plan has NO shuffle between scan and sink — the
    * corpus-level window/join forms below are kept for mention tables
    * that arrive without document locality, and runShuffled() verifies
    * both paths agree (PipelineSpec).
    */
  def run(pages: Dataset[Page], umls: Broadcast[UmlsTables])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    perDocument(pages, umls)(pageText)((p, text, t) =>
      DocTriples.fromText(p.url, text, t, LinkOptions.default))
      .toDF("subj_cui", "pred", "obj_cui", "url", "sentNo")
  }

  /** [[run]] on the fixture tables ([[broadcastUmls]]). */
  def run(pages: Dataset[Page])(implicit spark: SparkSession): DataFrame =
    run(pages, broadcastUmls(spark))

  /** The corpus-level shuffled form: window-ranked WSD + sentence-window
    * self-join. Result-identical to run(); used when mentions are read
    * from a table rather than produced in-document.
    */
  def runShuffled(pages: Dataset[Page], umls: Broadcast[UmlsTables])(
      implicit spark: SparkSession): DataFrame =
    triples(wsdDedup(mentions(pages, umls), umls), umls)
}
