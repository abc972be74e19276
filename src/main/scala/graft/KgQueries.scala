package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.corpus.CorpusGen
import graft.pipeline.Pipeline

/** KG-construction pipeline entries for the driver contract. These run on
  * the deterministic synthetic corpus (FIXTURES.md) — not SQL-expressible,
  * so the driver records rows-only checks; the real correctness gates are
  * the scalatest P/R harnesses (PipelineSpec).
  */
object KgQueries {

  /** The kg inputs are generated (deterministic synthetic corpus), not
    * read from parquet — but the gate's scale knob must still reach them:
    * page count scales linearly with the sf directory (sf0.01 -> the
    * round-1 400 pages, sf0.1 -> 4,000), so sf0.1 bench/verify runs see a
    * 10x corpus instead of a fixed toy size.
    */
  private[graft] def pagesFor(sfDir: String): Long = {
    val sf = raw"sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).toDouble).getOrElse(0.01)
    math.max(40L, math.round(sf / 0.01 * 400.0))
  }

  def kgMentions(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    KgOracleTables.ensure(spark, sfDir)
    val umls = Pipeline.broadcastUmls(spark)
    Pipeline.wsdDedup(Pipeline.mentions(CorpusGen.pages(spark, pagesFor(sfDir)), umls), umls)
  }

  /** The corpus-level WSD stage in isolation, reading the materialized
    * mention checkpoint (the shape mentions arrive in when they come from
    * a table rather than in-document): one window rank per span. Exact
    * DuckDB oracle — this is the shuffle stage the 100 TB plan cares
    * about, now under the hard rows+schema+hash signal.
    */
  def kgWsdDedup(spark: SparkSession, sfDir: String): DataFrame =
    Pipeline.wsdWindow(KgOracleTables.ensure(spark, sfDir), "st_prio")
      .select("url", "sentNo", "start", "len", "cui", "score", "negated")

  def kgTriples(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    KgOracleTables.ensure(spark, sfDir)
    Pipeline.run(CorpusGen.pages(spark, pagesFor(sfDir)))
  }

  def kgGraph(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    KgOracleTables.ensure(spark, sfDir)
    val umls = Pipeline.broadcastUmls(spark)
    Pipeline.graph(Pipeline.run(CorpusGen.pages(spark, pagesFor(sfDir))), umls)
  }

  /** Graph analytics over the materialized KG: per-CUI degree (distinct
    * neighbors in/out), predicate fan-out — the first queries a consumer
    * runs on the graph table.
    */
  def kgGraphDegrees(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val g = kgGraph(spark, sfDir)
    val out = g.select(col("subj_cui").as("cui"), col("obj_cui").as("nbr"),
      col("pred"), col("n_evidence"))
    val in = g.select(col("obj_cui").as("cui"), col("subj_cui").as("nbr"),
      col("pred"), col("n_evidence"))
    out.withColumn("dir", lit("out")).unionByName(in.withColumn("dir", lit("in")))
      .groupBy(col("cui"))
      .agg(countDistinct(col("nbr")).as("n_neighbors"),
        countDistinct(col("pred")).as("n_predicates"),
        sum(col("n_evidence")).as("total_evidence"))
      .orderBy(col("n_neighbors").desc, col("cui"))
  }

  /** PageRank over the KG edges (3 deterministic iterations): the
    * centrality ranking a KG consumer uses for entity importance.
    * rows-only at the gate; GraphOpsSpec pins closed-form values.
    */
  def kgPagerank(spark: SparkSession, sfDir: String): DataFrame =
    graph.GraphOps.pageRank(kgGraph(spark, sfDir))

  /** Connected components over the KG edge set (which concept clusters
    * are transitively related in this corpus) — the same star-contraction
    * operator as dedup_cc_clusters, over CUI strings; oracle = recursive
    * min-label fixpoint over the triples recomputed in DuckDB.
    */
  def kgGraphComponents(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    import org.apache.spark.sql.functions.col
    KgOracleTables.ensure(spark, sfDir)
    val trip = Pipeline.run(CorpusGen.pages(spark, pagesFor(sfDir)))
    graph.GraphOps.connectedComponents(
      trip.select(col("subj_cui").as("u"), col("obj_cui").as("v")))
      .select(col("node").as("cui"), col("rep").as("component"))
      .orderBy("cui")
  }

  def kgMmiRank(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    KgOracleTables.ensure(spark, sfDir)
    val umls = Pipeline.broadcastUmls(spark)
    val ms = Pipeline.wsdDedup(Pipeline.mentions(CorpusGen.pages(spark, pagesFor(sfDir)), umls), umls)
    ops.MmiRank.rank(ms, umls)
  }

  def kgJsonOutput(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    output.JsonOutput.documentJson(kgMentions(spark, sfDir))
  }

  /** --dump_aas at the gate: the standard corpus UNION the AA-exercise
    * corpus (accepted shapes + rejected parentheticals; CorpusGen
    * .aaSentences), with a UDA that overrides a discovered AA ("ca") and
    * one that no document defines ("uda"). rows-only at the gate; the
    * exact dump lines are pinned in AaDumpSpec.
    */
  def kgAaDump(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    import org.apache.spark.sql.functions.col
    val umls = Pipeline.broadcastUmls(spark)
    val opts = graft.link.LinkOptions(udas = Map(
      "ca" -> Vector("calcium"),
      "uda" -> Vector("user", "defined", "acronym")))
    output.JsonOutput.aaDump(
      CorpusGen.pages(spark, pagesFor(sfDir)).unionByName(CorpusGen.aaPages(spark)),
      umls, opts)
      .orderBy(col("url"), col("acronym"))
  }

  /** Real-UMLS-ingestion parity at the gate: the fixture tables round
    * trip through parquet in the ingest schemas (UmlsIngest.dump → load)
    * and the full mention pipeline runs on the LOADED tables. Shares
    * kg_mentions' EXACT DuckDB oracle — the ingested path must reproduce
    * the checkpoint byte-for-byte or the hash gate fails.
    */
  def kgMentionsIngested(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    KgOracleTables.ensure(spark, sfDir)
    val dir = s"target/graft_ingest/${new java.io.File(sfDir).getName}"
    graft.umls.UmlsIngest.dump(graft.umls.MiniUmls.tables, dir)
    val bc = spark.sparkContext.broadcast(graft.umls.UmlsIngest.load(dir))
    Pipeline.wsdDedup(Pipeline.mentions(CorpusGen.pages(spark, pagesFor(sfDir)), bc), bc)
  }

  def kgHumanOutput(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    output.JsonOutput.humanReadable(kgMentions(spark, sfDir),
      Pipeline.broadcastUmls(spark))
  }

  def kgXmlOutput(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    output.XmlOutput.documentXml(kgMentions(spark, sfDir))
  }

  def kgMmiFielded(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    ops.MmiRank.fielded(kgMentions(spark, sfDir).toDF(),
      Pipeline.broadcastUmls(spark))
  }

  /** The AA/UA lines --fielded_mmi_output emits before the concept
    * lines (mmi/mmi.pl:140-147), over the same corpus+UDA overlay as
    * kg_aa_dump. rows-only at the gate (per-document kernel); the exact
    * line bytes are pinned in AaDumpSpec.
    */
  def kgMmiAaLines(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    ops.MmiRank.fieldedAaLines(kgAaDump(spark, sfDir))
      .orderBy(col("url"), col("line"))
  }

  /** MMO machine-output term lines (--machine_output,
    * skr/skr_utilities.pl:1290-1416): the byte-level parity format a
    * Prolog-CLI consumer diffs. rows-only at the gate; byte-stable golden
    * pinned in MmoSpec.
    */
  def kgMmoOutput(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    output.MmoOutput.mmoLines(CorpusGen.pages(spark, pagesFor(sfDir)),
      Pipeline.broadcastUmls(spark))
      .orderBy("url", "line_no")
  }

  /** Full --JSONf document tree (skr_json.pl:87-131): the reference's
    * JSON schema a pymetamap-style consumer parses, per-document kernel
    * output — rows-only at the gate; byte-stable golden pinned in
    * JsonMmoSpec.
    */
  def kgJsonMmo(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    output.JsonMmoOutput.jsonDocs(CorpusGen.pages(spark, pagesFor(sfDir)),
      Pipeline.broadcastUmls(spark))
      .orderBy("url")
  }

  /** Full --XMLf MMO element (skr_xml.pl): same shared tree as
    * [[kgJsonMmo]], XML-rendered — rows-only at the gate; byte-stable
    * golden pinned in XmlMmoSpec.
    */
  def kgXmlMmo(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    output.XmlMmoOutput.xmlDocs(CorpusGen.pages(spark, pagesFor(sfDir)),
      Pipeline.broadcastUmls(spark))
      .orderBy("url")
  }

  /** Option surface (SURVEY §2.7 E7, §2.8): mention counts per reference
    * CLI mode over the same corpus — demonstrates -i/-o/-g/-Y/-b/-r and
    * the semtype filters are live, each a full kernel run.
    */
  def kgOptionProfiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    import graft.link.LinkOptions
    val profiles: Seq[(String, LinkOptions)] = Seq(
      "default" -> LinkOptions.default,
      "ignore_word_order" -> LinkOptions(ignoreWordOrder = true),
      "allow_overmatches" -> LinkOptions(allowOvermatches = true),
      "allow_concept_gaps" -> LinkOptions(allowConceptGaps = true),
      "prefer_multiple" -> LinkOptions(preferMultiple = true),
      "all_mappings" -> LinkOptions(computeAllMappings = true),
      "threshold_900" -> LinkOptions(scoreThreshold = 900),
      "restrict_dsyn" -> LinkOptions(restrictSemTypes = Set("dsyn")),
      "min_length_8" -> LinkOptions(minLength = 8),
      "conj_merge" -> LinkOptions(conjMerge = true),
      "aa_span_merge" -> LinkOptions(aaSpanMerge = true),
      "tagged" -> LinkOptions(tagged = true),
      "no_prune" -> LinkOptions(noPrune = true),
      // cascade only fires on the RESTRICT path (skr.pl:1272-1283: only
      // restrict_to_sts passes Discarded to
      // maybe_discard_overlapping_evaluations; exclude_sts ignores it)
      "cascade" -> LinkOptions(restrictSemTypes = Set("dsyn"), cascade = true),
      // pins the exclude-path no-op: same count as a bare -k sosy run
      "cascade_exclude_noop" -> LinkOptions(excludeSemTypes = Set("sosy"), cascade = true),
      "exclude_sosy" -> LinkOptions(excludeSemTypes = Set("sosy")),
      // F4 source half (-R/-e, skr.pl:1247-1262)
      "restrict_src_rxnorm" -> LinkOptions(restrictSources = Set("RXNORM")),
      "exclude_src_msh" -> LinkOptions(excludeSources = Set("MSH")),
      "nomap" -> LinkOptions(noMap = Set(("", "C0027051"))),
      "wsd" -> LinkOptions(wsd = true),
      // --sldi: each page line becomes its own record — document-local
      // AA reuse across lines is lost, so the count genuinely differs
      "sldi" -> LinkOptions(sldi = true),
      "blanklines_2" -> LinkOptions(blankLines = Some(2)),
      // -d removes the derivation edge class -> never more mentions
      "no_deriv" -> LinkOptions(noDerivationalVariants = true),
      // -K disables the stop_analysis phrase skip -> never fewer
      "ignore_stop_phrases" -> LinkOptions(ignoreStopPhrases = true),
      // -Q 0 disables composite gluing entirely
      "composite_0" -> LinkOptions(compositePhrases = 0),
      // round-6 parity modes: reference-exact composite glom (non-"of"
      // prep + CompositeOptions evaluation) and mincoman tagless
      // boundaries (adv joins, conditional comma, punc_mark1 set)
      "composite_exact" -> LinkOptions(compositeExact = true),
      "tagless_exact" -> LinkOptions(taglessExact = true),
      // reference EXP-stream AA handling: the defining parenthetical's
      // phrases never exist -> never MORE mentions than the default
      "aadef_exact" -> LinkOptions(aaDefExact = true),
      // NegEx gate profiles count NEGATED mentions (see emission below):
      // an engaged gate can only shrink the negated subset
      "negex_negated_default" -> LinkOptions.default,
      "negex_negated_gated" -> LinkOptions(negexStDel = Set("sosy")))
    val umls = Pipeline.broadcastUmls(spark)
    // ONE kernel pass: each document is extracted once and linked under
    // every profile inside the same task, emitting (mode, count) rows
    // folded by a keyed agg — one Spark job instead of one sequential
    // full-corpus job per profile (a zero count per profile survives
    // because every document emits every mode).
    Pipeline.perDocument(CorpusGen.pages(spark, 100), umls)(Pipeline.pageText) { (p, text, t) =>
      profiles.iterator.map { case (name, o) =>
        // negex_negated_* profiles pin the semtype GATE: they count
        // negated mentions, every other profile counts mentions
        def count(ms: Vector[graft.link.Mention]): Int =
          if (name.startsWith("negex_negated")) ms.count(_.negated) else ms.size
        (name, count(pipeline.DocKernel.annotate(p.url, text, t, o)).toLong)
      }
    }.toDF("mode", "n")
      .groupBy(col("mode")).agg(sum(col("n")).as("n_mentions"))
      .orderBy(col("mode"))
  }

  /** Fielded MEDLINE/RIS input (S1 parity): the synthetic corpus is
    * FORMATTED as fielded citations (PMID / TI / AB with 6-space-padded
    * continuation lines, the reference's own wrap shape) and read back
    * through MedlineReader — parse + field extraction + per-field kernel,
    * with utterance labels `<pmid>.<ti|ab>` + sentNo. rows-only at the
    * gate (the parser and labels are pinned exactly in MedlineSpec).
    */
  def kgMedlineMentions(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    import spark.implicits._
    val umls = Pipeline.broadcastUmls(spark)
    val raw = CorpusGen.pages(spark, pagesFor(sfDir))
      .filter(_.lang == "en")
      .map { p =>
        val text = graft.text.Extract.htmlToText(p.html)
        val cut = {
          val i = text.indexOf(". ")
          if (i > 0) i + 1 else math.min(text.length, 60)
        }
        val ti = text.substring(0, cut).trim
        val ab = text.substring(cut).trim
        // wrap the abstract at ~70 chars on spaces; continuation lines
        // carry the reference's 6-space padding
        val wrapped = new StringBuilder
        var lineLen = 0
        ab.split(" ").filter(_.nonEmpty).foreach { w =>
          if (lineLen == 0) { wrapped.append(w); lineLen = w.length }
          else if (lineLen + 1 + w.length > 70) {
            wrapped.append("\n      ").append(w); lineLen = w.length
          } else { wrapped.append(' ').append(w); lineLen += 1 + w.length }
        }
        val abField = if (ab.isEmpty) "" else s"\nAB  - ${wrapped.result()}"
        s"PMID- ${p.url}\nTI  - $ti$abField"
      }
    import org.apache.spark.sql.functions.{col, concat_ws}
    // url = "<pmid>.<field>", so (url, sentNo) is the `<id>.<ti|ab>.<n>` label
    val fields = sources.MedlineReader.textFields(raw)
      .select(concat_ws(".", col("pmid"), col("field")).as("url"), col("text"))
    graft.api.Graft.annotate(fields, "url", "text", umls)
      .orderBy("url", "sentNo", "start", "cui")
  }

  /** Term processing (-z, F6) at the driver gate: link every fixture
    * concept string as a dictionary term.
    */
  def kgTermLookup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val terms = graft.umls.MiniUmls.concepts
      .flatMap { case (cui, _, _, strs) => strs.map(s => (cui + "|" + s, s)) }
    graft.api.Graft.annotateTerms(terms.toDF("id", "term"), "id", "term",
      Pipeline.broadcastUmls(spark))
  }

  /** Negated mentions only (N1 NegEx at the driver gate). */
  def kgNegated(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    kgMentions(spark, sfDir).filter(col("negated"))
  }

  /** Iceberg-style sink round-trip: write triples through the partitioned
    * snapshot layout, read back only committed buckets. Exercises the
    * lineage/metrics + checkpoint-resume path in the driver gate.
    */
  def kgSinkRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    implicit val s = spark
    // per-process root, wiped first: repeated gate runs in THIS process
    // must not accumulate /tmp copies (and a resumable table must start
    // clean here), while two concurrent gate/test runs on the same machine
    // must not race each other's snapshots — hence the PID suffix. Stale
    // roots from DEAD processes (each gate run is a fresh JVM) are swept
    // here too, so /tmp never accumulates table copies across runs.
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
      val name = f.getName
      if (name.startsWith("graft_sink_gate") && name != s"graft_sink_gate_$pid") {
        // best-effort: malformed/non-positive pids count as dead
        // (ProcessHandle.of throws on pid <= 0); a recycled pid may retain
        // a stale dir until its holder exits — acceptable residual
        val alive = name.stripPrefix("graft_sink_gate_").toLongOption
          .filter(_ > 0)
          .exists(p => try ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false)
            catch { case _: IllegalArgumentException => false })
        if (!alive) org.apache.commons.io.FileUtils.deleteQuietly(f)
      }
    }
    val root = java.nio.file.Paths.get(tmp.getPath, s"graft_sink_gate_$pid").toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    KgOracleTables.ensure(spark, sfDir)
    graft.graph.IcebergLite.write(Pipeline.run(CorpusGen.pages(spark, pagesFor(sfDir))), root)
    // project away the physical layout column (part_bucket is an
    // xxhash64 of subj_cui — layout metadata, not content): the read-back
    // CONTENT must equal the triples the pipeline emitted, which is
    // exactly the kg_triples DuckDB oracle -> exact roundtrip check
    graft.graph.IcebergLite.read(spark, root)
      .select("subj_cui", "pred", "obj_cui", "url", "sentNo")
      .orderBy("subj_cui", "pred", "obj_cui", "url", "sentNo")
  }

  /** A deterministic bounded micro-batch run of the streaming pipeline at
    * the driver gate (SURVEY §2 streaming): the same corpus fed as ONE
    * batch through the Structured Streaming query, results collected from
    * the in-memory sink. rows-only (streaming==batch equivalence is pinned
    * exactly in StreamingSpec).
    */
  def kgStreamingTriples(spark: SparkSession, sfDir: String): DataFrame = {
    // same page count as the batch entries, so the streaming result is
    // checked against the SAME DuckDB triples oracle — exact
    // streaming==batch equivalence under the driver's hard signal (the
    // sbt StreamingSpec pins it too)
    KgOracleTables.ensure(spark, sfDir)
    streaming.StreamingPipeline.runBounded(spark, pagesFor(sfDir), Pipeline.broadcastUmls(spark))
      .orderBy("subj_cui", "pred", "obj_cui", "url", "sentNo")
  }

  // nested output columns are stringified ONCE, by Verify's blanket
  // GateSafe.stringifyNested over every query — no per-entry wrapping, so
  // the convention cannot drift as entries are added
  /** Exact DuckDB oracles for the corpus-level stages (everything
    * downstream of the kernel-produced mention checkpoint).
    */
  def oracleSql: Map[String, String] = KgOracleTables.oracleSql +
    // the ingested path must land on the SAME mention oracle
    ("kg_mentions_ingested" -> KgOracleTables.kgMentionsSql)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_mentions" -> (kgMentions _),
    "kg_mentions_ingested" -> (kgMentionsIngested _),
    "kg_wsd_dedup" -> (kgWsdDedup _),
    "kg_medline_mentions" -> (kgMedlineMentions _),
    "kg_negated_mentions" -> (kgNegated _),
    "kg_term_lookup" -> (kgTermLookup _),
    "kg_streaming_triples" -> (kgStreamingTriples _),
    "kg_sink_roundtrip" -> (kgSinkRoundtrip _),
    "kg_triples" -> (kgTriples _),
    "kg_graph" -> (kgGraph _),
    "kg_graph_components" -> (kgGraphComponents _),
    "kg_graph_degrees" -> (kgGraphDegrees _),
    "kg_pagerank" -> (kgPagerank _),
    "kg_mmi_rank" -> (kgMmiRank _),
    "kg_json_output" -> (kgJsonOutput _),
    "kg_aa_dump" -> (kgAaDump _),
    "kg_xml_output" -> (kgXmlOutput _),
    "kg_human_output" -> (kgHumanOutput _),
    "kg_mmi_fielded" -> (kgMmiFielded _),
    "kg_mmi_aa_lines" -> (kgMmiAaLines _),
    "kg_mmo_output" -> (kgMmoOutput _),
    "kg_json_mmo" -> (kgJsonMmo _),
    "kg_xml_mmo" -> (kgXmlMmo _),
    "kg_option_profiles" -> (kgOptionProfiles _))
}
