package graft.umls

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.LocalFs

/** Real-UMLS ingestion: build a broadcastable [[UmlsTables]] from
  * MRCONSO / MRSTY / SRSTRE / SPECIALIST-shaped DataFrames instead of the
  * synthetic fixture. This is the path a user with an actual Metathesaurus
  * license feeds the engine — the Spark re-expression of the reference's
  * Berkeley-DB table surface (/root/reference/db/db_access.pl:316-809)
  * and lexicon wrappers (lexicon/lexicon/lex_access.pl:35-307).
  *
  * Input schemas (see README §"Real-UMLS ingestion" for the column ↔
  * reference-table mapping; extra columns are ignored):
  *
  *  - `mrconso(cui, str, sab, ispref[, suppress])` — concept strings.
  *    One row per string; `ispref = 'Y'` marks the preferred concept name
  *    (MRCONSO TS=P/STT=PF/ISPREF=Y collapsed to one flag);
  *    `suppress = 'Y'` rows contribute the name but are NOT indexed for
  *    matching (MRCONSO SUPPRESS). db analogue: cuiconcept/suistrings.
  *  - `mrsty(cui, st[, pos])` — semantic-type ABBREVIATIONS (dsyn, neop …,
  *    the reference's semtype form, db: cuist); `pos` preserves list order
  *    (absent → sorted).
  *  - `lexicon(word, cat)` — SPECIALIST lexicon forms with category in
  *    noun/adj/verb/aux/det/prep/conj/pron/adv; MULTIWORD entries (with
  *    spaces) become `lexiconForms` (is_a_form) regardless of cat.
  *  - `variants(word, variant, var_level, history)` — the static-mode
  *    variant table (db: vars), i.e. the output of [[variantTableJob]].
  *  - `semnet(st1, rel, st2)` — semantic-network relations in abbreviation
  *    form (SRSTRE1-shaped; db: semnet).
  *
  * plus optional side tables in [[UmlsAuxSources]] (per-CUI source
  * vocabularies, treecodes, split words, stop phrases, WSD priors, negex
  * triggers, …). All inputs are DICTIONARY-scale — bounded by the
  * Metathesaurus (~15M strings), independent of corpus size — so the
  * collect-to-broadcast here is the same bounded state the reference holds
  * in process memory via BDB; it is NOT corpus-scale driver traffic.
  * Build once, [[dump]] to parquet, and [[load]] per job.
  */
object UmlsIngest {

  /** Optional side tables; any may be None (defaults documented per field). */
  final case class UmlsAuxSources(
      // cuisourceinfo (db_access.pl:368-396): cui, sab[, pos]; absent →
      // derived as sorted distinct upper(sab) per cui from mrconso
      cuiSourceInfo: Option[DataFrame] = None,
      // per-category GVC variant tables (V10): cat, word, variant,
      // var_level, history
      variantsByCat: Option[DataFrame] = None,
      // full-dm.rul table for --all_derivational_variants: same schema as
      // variants
      variantsAllDeriv: Option[DataFrame] = None,
      // deriv-free table for -d no_derivational_variants: same schema as
      // variants
      variantsNoDeriv: Option[DataFrame] = None,
      // rel, inv — semnet inverse pairs; absent → empty (triples then only
      // use forward relations)
      relationInverse: Option[DataFrame] = None,
      // cui, treecode (MeSH tree numbers / db treecodes)
      treecodes: Option[DataFrame] = None,
      // st, priority — the deterministic WSD prior; absent → empty (all
      // types tie at 99)
      semTypePriority: Option[DataFrame] = None,
      // word, first, second (split_word fact table)
      splitWords: Option[DataFrame] = None,
      // phrase, cat (metamap_stop_phrase.pl analogue)
      stopPhrases: Option[DataFrame] = None,
      // word, n — corpus word frequencies for the frequent-first-word cut
      wordCounts: Option[DataFrame] = None,
      // class, phrase with class in nega|negb|pnega|pnegb|conj; absent →
      // the built-in negex_triggers-scale list (NegexTriggers)
      negexTriggers: Option[DataFrame] = None)

  /** Collect with EXPLICIT casts so user DataFrames with any compatible
    * column width (int pos from row_number, bigint counts, …) load
    * instead of throwing ClassCastException deep inside a collect.
    * Cast spec: name or "name:type" (default string).
    */
  private def collectRows(df: DataFrame, cols: String*): Vector[Row] =
    df.select(cols.map { c =>
      val parts = c.split(":")
      if (parts.length == 2) col(parts(0)).cast(parts(1)).as(parts(0))
      else col(c).cast("string").as(c)
    }: _*).collect().toVector

  private def orderedList(rows: Vector[(String, String, Option[Long])])
      : Map[String, Vector[String]] =
    rows.groupBy(_._1).map { case (k, vs) =>
      // dedup by VALUE after the positional sort: the reference's
      // cuisourceinfo is keyed per string, so the same SAB legitimately
      // repeats at many positions for one CUI
      k -> vs.map(v => (v._3, v._2))
        .sortBy { case (p, s) => (p.getOrElse(Long.MaxValue), s) }
        .map(_._2).distinct
    }

  private def withOptPos(df: DataFrame, a: String, b: String)
      : Vector[(String, String, Option[Long])] =
    if (df.columns.contains("pos"))
      collectRows(df, a, b, "pos:long").map(r =>
        (r.getString(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
    else collectRows(df, a, b).map(r => (r.getString(0), r.getString(1), None))

  /** The ONE rows→variant-map grouping rule (closure emission order is
    * (level, variant), reconstructible) — shared by the flat and
    * per-category readers so the two cannot desynchronize.
    */
  private def groupVariants(rows: Vector[(String, Variant)]): Map[String, Vector[Variant]] =
    rows.groupBy(_._1).map { case (w, vs) =>
      w -> vs.map(_._2).distinct.sortBy(v => (v.varLevel, v.word))
    }

  private def variantMap(df: DataFrame): Map[String, Vector[Variant]] =
    groupVariants(collectRows(df, "word", "variant", "var_level:int", "history")
      .map(r => (r.getString(0), Variant(r.getString(1), r.getInt(2), r.getString(3)))))

  /** Assemble a broadcastable [[UmlsTables]] from source DataFrames. */
  def fromDataFrames(
      mrconso: DataFrame,
      mrsty: DataFrame,
      lexicon: DataFrame,
      variants: DataFrame,
      semnet: DataFrame,
      aux: UmlsAuxSources = UmlsAuxSources()): UmlsTables = {

    // ---- distributed index construction (the variantTableJob shape:
    // the per-string work — normalizeString over ~15M Metathesaurus
    // strings — and the grouping both run as Spark jobs; the driver only
    // collects the grouped, dictionary-scale results) ----
    val spark = mrconso.sparkSession
    import spark.implicits._
    val base = mrconso.select(col("cui").cast("string"),
      col("str").cast("string"), col("sab").cast("string"),
      col("ispref").cast("string"),
      // null suppress = unsuppressed (the collected implementation's
      // getString(4) == "Y" was false for null; a bare =!= "Y" filter
      // would evaluate to null and silently DROP the row)
      (if (mrconso.columns.contains("suppress"))
        coalesce(col("suppress").cast("string"), lit("N"))
       else lit("N")).as("suppress"))

    // preferred concept name: the ispref row; deterministic fallback =
    // lexicographically first unsuppressed string, then first string.
    // Every tier is a MIN, never a head — row order must not leak into
    // the concept name.
    val prefDf = base.groupBy(col("cui")).agg(
      min(when(col("ispref") === "Y", col("str"))).as("p1"),
      min(when(col("suppress") =!= "Y", col("str"))).as("p2"),
      min(col("str")).as("p3"))
      .select(col("cui"), coalesce(col("p1"), col("p2"), col("p3")).as("pref"))
    val cuiPreferred: Map[String, String] =
      prefDf.as[(String, String)].collect().toMap

    // index entries from unsuppressed strings: normalize exactly like the
    // fixture build (uninversion + NOS strip + mm tokenization), executed
    // on executors; (cui, str) is distinct per row, and WordIndex.from
    // groups by first word and applies the canonical per-key order
    val firstWordIndex = WordIndex.from(
      base.filter(col("suppress") =!= "Y").select(col("cui"), col("str"))
        .distinct()
        .join(prefDf, "cui")
        .as[(String, String, String)]
        .mapPartitions(_.flatMap { case (cui, str, pref) =>
          val nm = MiniUmls.normalizeString(str)
          if (nm.isEmpty) None else Some(IndexEntry(nm, str, cui, pref))
        })
        .collect())

    val cuiSources: Map[String, Vector[String]] = aux.cuiSourceInfo match {
      case Some(df) => orderedList(withOptPos(df, "cui", "sab"))
      case None =>
        // sorted distinct root SABs per CUI — collect_set is bounded by
        // the vocabulary count (~200), sorted on the executor
        base.groupBy(col("cui"))
          .agg(sort_array(collect_set(upper(col("sab")))).as("sabs"))
          .as[(String, Seq[String])].collect()
          .iterator.map { case (c, ss) => c -> ss.toVector }.toMap
    }

    val cuiSemTypes = orderedList(withOptPos(mrsty, "cui", "st"))

    val lexRows = collectRows(lexicon, "word", "cat")
      .map(r => (r.getString(0), r.getString(1)))
    // forms (is_a_form) = multi-word entries PLUS anything tagged with
    // the sentinel cat `form` — dump() writes single-word forms that way,
    // so the round trip must route them back to lexiconForms rather than
    // into lexCats with a bogus category
    val lexiconForms = lexRows.collect {
      case (w, cat) if w.contains(" ") || cat == "form" => w
    }.toSet
    val lexCats = lexRows.filter { case (w, cat) => !w.contains(" ") && cat != "form" }
      .groupBy(_._1).map { case (w, cs) => w -> cs.map(_._2).toSet }
    val stopWords = lexCats.collect {
      case (w, cs) if cs.exists(UmlsTables.closedCats) => w
    }.toSet

    val semnetRows = collectRows(semnet, "st1", "rel", "st2")
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val semnetMap = semnetRows.groupBy(f => (f._1, f._3)).map { case (k, v) =>
      k -> v.map(_._2).distinct.sorted
    }

    val negexByClass: Map[String, Vector[Vector[String]]] =
      aux.negexTriggers match {
        case Some(df) => orderedList(withOptPos(df, "class", "phrase"))
          .map { case (c, ps) =>
            c -> ps.map(_.split(" ").toVector.filter(_.nonEmpty))
          }
        case None => Map(
          "nega" -> graft.negex.NegexTriggers.nega,
          "negb" -> graft.negex.NegexTriggers.negb,
          "pnega" -> graft.negex.NegexTriggers.pseudoPre,
          "pnegb" -> graft.negex.NegexTriggers.pseudoPost,
          "conj" -> graft.negex.NegexTriggers.conj)
      }

    UmlsTables(
      firstWordIndex = firstWordIndex,
      wordCounts = aux.wordCounts.map(df =>
        collectRows(df, "word", "n:int").map(r => r.getString(0) -> r.getInt(1)).toMap)
        .getOrElse(Map.empty),
      cuiPreferred = cuiPreferred,
      cuiSemTypes = cuiSemTypes,
      cuiSources = cuiSources,
      variants = variantMap(variants),
      variantsByCat = aux.variantsByCat.map { df =>
        // ONE scan: collect with the cat column, split driver-side (the
        // per-category filter+collect alternative reads the dictionary-
        // scale table once per category), each group through the shared
        // variant-map rule
        collectRows(df, "cat", "word", "variant", "var_level:int", "history")
          .map(r => (r.getString(0),
            (r.getString(1), Variant(r.getString(2), r.getInt(3), r.getString(4)))))
          .groupBy(_._1).map { case (c, rows) => c -> groupVariants(rows.map(_._2)) }
      }.getOrElse(Map.empty),
      lexiconForms = lexiconForms,
      lexCats = lexCats,
      stopWords = stopWords,
      semnet = semnetMap,
      preferredRelations = semnetRows.map(_._2).toSet,
      relationInverse = aux.relationInverse.map(df =>
        collectRows(df, "rel", "inv").map(r => r.getString(0) -> r.getString(1)).toMap)
        .getOrElse(Map.empty),
      negexPre = negexByClass.getOrElse("nega", Vector.empty),
      negexPost = negexByClass.getOrElse("negb", Vector.empty),
      negexPseudo = negexByClass.getOrElse("pnega", Vector.empty),
      negexPseudoPost = negexByClass.getOrElse("pnegb", Vector.empty),
      negexConj = negexByClass.getOrElse("conj", Vector.empty),
      treecodes = aux.treecodes.map(df => orderedList(withOptPos(df, "cui", "treecode")))
        .getOrElse(Map.empty),
      semTypePriority = aux.semTypePriority.map(df =>
        collectRows(df, "st", "priority:int").map(r => r.getString(0) -> r.getInt(1)).toMap)
        .getOrElse(Map.empty),
      stopPhrases = aux.stopPhrases.map(df =>
        collectRows(df, "phrase", "cat").map(r => (r.getString(0), r.getString(1)))
          .groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2).toSet })
        .getOrElse(Map.empty),
      splitWords = aux.splitWords.map(df =>
        collectRows(df, "word", "first", "second")
          .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap)
        .getOrElse(Map.empty),
      variantsAllDeriv = aux.variantsAllDeriv.map(variantMap).getOrElse(Map.empty),
      variantsNoDeriv = aux.variantsNoDeriv.map(variantMap).getOrElse(Map.empty))
  }

  // ---------------------------------------------------------------------
  // Native-format readers: the pipe-delimited UMLS release files + the
  // SPECIALIST lexicon — the formats the reference's own data build
  // consumes (db loader surface db_access.pl:316-809; lexical records
  // lexicon/lexicon/qp_fm_lexrec.pl:66-78).
  // ---------------------------------------------------------------------

  /** Ingest directly from a directory of UMLS release files:
    *
    *  - `MRCONSO.RRF` (18 pipe-delimited columns): CUI(0), LAT(1),
    *    TS(2), STT(4), ISPREF(6), SAB(11), STR(14), SUPPRESS(16).
    *    English rows only (the reference builds from mrconso.eng);
    *    the preferred-name row is TS=P & STT=PF & ISPREF=Y, suppression
    *    is any SUPPRESS other than N.
    *  - `MRSTY.RRF`: CUI(0), TUI(1), STY(3) — mapped to the abbreviated
    *    semtypes the engine speaks via [[SemTypeRegistry]] (TUI first,
    *    full name as fallback).
    *  - `SRSTRE2` (three full names st|rel|st) or `SRSTRE1` (three TUIs,
    *    requires `SRDEF` for relation names) — the Semantic Network
    *    relation triples, types abbreviated through the registry.
    *  - `LEXICON` (optional, SPECIALIST lexical-record syntax, parsed by
    *    [[LexicalRecords]]): every record word enters the lexicon table
    *    under its entry cat; spelling variants, irregular inflections
    *    and nominalization pairs feed [[variantTableJob]], which builds
    *    the static variant table distributed. Absent -> empty lexicon +
    *    variants (index lookup still works, variant generation is
    *    dynamic-only).
    *
    * Everything lands on [[fromDataFrames]], so RRF-path and
    * shaped-DataFrame-path tables are identical by construction.
    */
  def fromRrf(spark: SparkSession, dir: String,
      aux: UmlsAuxSources = UmlsAuxSources()): UmlsTables = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    def readLines(name: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
      if (p.getFileSystem(hconf).exists(p)) Some(spark.read.text(s"$dir/$name"))
      else None
    }
    // RRF rows are pipe-delimited with a trailing pipe and NO quoting
    // (a CSV reader would mis-parse quotes inside STR), so split raw
    // text lines; fields(i) names a 0-based column
    def field(i: Int): Column = split(col("value"), "\\|", -1).getItem(i)

    val mrconso = readLines("MRCONSO.RRF")
      .getOrElse(throw new IllegalArgumentException(s"missing $dir/MRCONSO.RRF"))
      .select(field(0).as("cui"), field(1).as("lat"), field(2).as("ts"),
        field(4).as("stt"), field(6).as("isp"), field(11).as("sab"),
        field(14).as("str"), field(16).as("sup"))
      .filter(col("lat") === "ENG")
      .select(col("cui"), col("str"), col("sab"),
        when(col("ts") === "P" && col("stt") === "PF" && col("isp") === "Y", "Y")
          .otherwise("N").as("ispref"),
        when(col("sup") =!= "N", "Y").otherwise("N").as("suppress"))

    // abbreviation registry as join dims (tui -> st, name -> st)
    val byTui = SemTypeRegistry.entries.map(e => (e._1, e._2)).toDF("r_tui", "st_t")
    val byName = SemTypeRegistry.entries.map(e => (e._3, e._2)).toDF("r_name", "st_n")

    val mrsty = readLines("MRSTY.RRF")
      .getOrElse(throw new IllegalArgumentException(s"missing $dir/MRSTY.RRF"))
      .select(field(0).as("cui"), field(1).as("tui"), field(3).as("sty"))
      .join(broadcast(byTui), col("tui") === col("r_tui"), "left")
      .join(broadcast(byName), col("sty") === col("r_name"), "left")
      .select(col("cui"), coalesce(col("st_t"), col("st_n")).as("st"))
      .filter(col("st").isNotNull)

    val semnet = readLines("SRSTRE2") match {
      case Some(df) =>
        // full-name triples: map both type columns through the registry,
        // keep the relation name verbatim (the reference's semnet tables
        // key relations by name: isa, affects, location_of, …)
        df.select(field(0).as("n1"), field(1).as("rel"), field(2).as("n2"))
          .join(broadcast(byName.withColumnRenamed("st_n", "st1")),
            col("n1") === col("r_name"), "left").drop("r_name")
          .join(broadcast(byName.withColumnRenamed("st_n", "st2")
            .withColumnRenamed("r_name", "r_name2")),
            col("n2") === col("r_name2"), "left")
          .select(col("st1"), col("rel"), col("st2"))
          .filter(col("st1").isNotNull && col("st2").isNotNull)
      case None =>
        val sr1 = readLines("SRSTRE1").getOrElse(throw new IllegalArgumentException(
          s"missing $dir/SRSTRE2 (or SRSTRE1)"))
        // TUI triples: SRDEF's RL rows name the relation TUIs
        val srdef = readLines("SRDEF").getOrElse(throw new IllegalArgumentException(
          s"$dir/SRSTRE1 needs SRDEF for relation names"))
          .select(field(0).as("rt"), field(1).as("ui"), field(2).as("rl_name"))
          .filter(col("rt") === "RL")
          .select(col("ui"), col("rl_name"))
        sr1.select(field(0).as("t1"), field(1).as("trel"), field(2).as("t2"))
          .join(broadcast(byTui.withColumnRenamed("st_t", "st1")),
            col("t1") === col("r_tui"), "left").drop("r_tui")
          .join(broadcast(byTui.withColumnRenamed("st_t", "st2")
            .withColumnRenamed("r_tui", "r_tui2")),
            col("t2") === col("r_tui2"), "left")
          .join(broadcast(srdef), col("trel") === col("ui"), "left")
          .select(col("st1"), col("rl_name").as("rel"), col("st2"))
          .filter(col("st1").isNotNull && col("st2").isNotNull && col("rel").isNotNull)
    }

    val (lexicon, variants) = readLines("LEXICON") match {
      case Some(df) =>
        // lexical records are multi-line: collect the (dictionary-scale)
        // file and parse on the driver; the EXPENSIVE step — the variant
        // closure — runs distributed in variantTableJob
        val records = LexicalRecords.parse(
          df.as[String].collect().mkString("\n"))
        // per-(word, cat) rule-class codes from the record's `variants=`
        // features (reg/regd/glreg drive lm.rules; irreg arrives as
        // curated pairs below; inv and uncoded records generate nothing —
        // the explicit, possibly empty, code set overrides the unclassed
        // default in variantTableJob)
        val lexDf = records
          .flatMap { r =>
            val codes = r.entry.feature("variants")
              .map(_.takeWhile(_ != '|'))
              .filter(Set("reg", "regd", "glreg"))
            r.words.map(w => ((w, r.entry.cat), codes.toSet))
          }
          .groupBy(_._1).toVector
          .map { case ((w, c), vs) =>
            (w, c, vs.flatMap(_._2).distinct.sorted.mkString(";"))
          }
          .sortBy(t => (t._1, t._2))
          .toDF("word", "cat", "classes")
        def pairsDf(ps: Vector[(String, String)]) = ps.toDF("word", "variant")
        val varDf = variantTableJob(spark, lexDf,
          spellings = pairsDf(records.flatMap(_.spellingPairs)),
          inflections = pairsDf(records.flatMap(_.irregularForms)),
          synonyms = pairsDf(Vector.empty),
          derivations = pairsDf(records.flatMap(_.nominalizationPairs)))
        (lexDf, varDf)
      case None =>
        (Vector.empty[(String, String)].toDF("word", "cat"),
          Vector.empty[(String, String, Int, String)]
            .toDF("word", "variant", "var_level", "history"))
    }

    fromDataFrames(mrconso, mrsty, lexicon, variants, semnet, aux)
  }

  // ---------------------------------------------------------------------
  // Offline variant-table job (SURVEY §7 module 4): the static-mode
  // db_get_variants table (metamap_variants.pl:356-372) built with Spark.
  // ---------------------------------------------------------------------

  /** Build the static variant table from fact-pair tables + the lexicon:
    * rule morphology (lm.rules / dm.rul) runs DISTRIBUTED per lexicon
    * word, the canonical edge maps are broadcast (dictionary-scale), and
    * the per-word closure runs distributed over the full word list.
    * Output schema: word, variant, var_level, history — exactly
    * [[fromDataFrames]]'s `variants` input, and byte-identical to the
    * fixture builder on the same inputs (VariantClosure is shared).
    *
    * @param lexicon     word, cat (single words; multiwords ignored here)
    * @param spellings   word, variant (pre-symmetrized, level 0)
    * @param inflections word, variant (level 1; symmetrized internally)
    * @param synonyms    word, variant (pre-symmetrized, level 2)
    * @param derivations word, variant (level 3; symmetrized internally)
    */
  def variantTableJob(spark: SparkSession,
      lexicon: DataFrame, spellings: DataFrame, inflections: DataFrame,
      synonyms: DataFrame, derivations: DataFrame,
      catRestrict: Option[String] = None,
      allDeriv: Boolean = false): DataFrame = {
    import spark.implicits._

    def pairs(df: DataFrame): Vector[(String, String)] =
      collectRows(df, "word", "variant").map(r => (r.getString(0), r.getString(1)))

    val spellPairs = pairs(spellings)
    val inflPairs = pairs(inflections)
    val synPairs = pairs(synonyms)
    val derivPairs = pairs(derivations)

    val lexCats = collectRows(lexicon, "word", "cat")
      .map(r => (r.getString(0), r.getString(1)))
      .filterNot(_._1.contains(" "))
      .groupBy(_._1).map { case (w, cs) => w -> cs.map(_._2).toSet }
    val lexWords = lexCats.keySet.toSet
    val bcLexWords = spark.sparkContext.broadcast(lexWords)
    // optional per-(word, cat) rule-class codes (LEXICON `variants=`,
    // semicolon-joined): an explicit entry — even an empty one, from a
    // record marked only irreg/inv — overrides Morphology.defaultClasses
    val classMap: Map[(String, String), Set[String]] =
      if (lexicon.columns.contains("classes"))
        collectRows(lexicon, "word", "cat", "classes")
          .map(r => ((r.getString(0), r.getString(1)),
            Option(r.getString(2)).getOrElse("")
              .split(';').toSet.filter(_.nonEmpty)))
          .toMap
      else Map.empty
    val bcClasses = spark.sparkContext.broadcast(classMap)

    // stage 1: rule morphology per lexicon word, on executors (the regex
    // rule application is the expensive part at 500k-word scale)
    val ruleEdges: Vector[(Vector[(String, String)], Vector[(String, String)])] =
      lexCats.toVector.sortBy(_._1)
        .map { case (w, cs) => (w, cs.toVector.sorted) }
        .toDF("word", "cats")
        .as[(String, Vector[String])]
        .mapPartitions { it =>
          val lw = bcLexWords.value
          val cls = bcClasses.value
          it.map { case (w, cs) =>
            VariantClosure.ruleEdgesForWord(w, cs.toSet, lw, catRestrict, allDeriv,
              c => cls.getOrElse((w, c), Morphology.defaultClasses(c)))
          }
        }.collect().toVector
    val ruleInfl = ruleEdges.flatMap(_._1)
    val ruleDeriv = ruleEdges.flatMap(_._2)

    // curated inflection pairs only bite for the restricted category
    val curatedInfl = catRestrict match {
      case Some(c @ ("noun" | "verb")) => inflPairs.filter(p =>
        lexCats.get(p._1).exists(_(c)) || lexCats.get(p._2).exists(_(c)))
      case Some(_) => Vector.empty
      case None => inflPairs
    }

    // stage 2: canonical edge maps (order-independent), broadcast once
    val e = VariantClosure.edges(
      spellings = spellPairs,
      inflections = curatedInfl ++ ruleInfl,
      synonyms = synPairs,
      derivations = derivPairs ++ ruleDeriv)
    val bcEdges = spark.sparkContext.broadcast(e)

    // stage 3: per-word closure, distributed over the full word list.
    // BOTH endpoints of every fact pair get a table row: curated pairs
    // may arrive one-directional (a LEXICON irregular like mouse|mice
    // emits only (mouse, mice)), and without a "mice" key the surface
    // form would have no static variants — and the dynamic fallback's
    // rule deinflection cannot reverse an irregular
    val allWords = (lexWords.toVector ++
      spellPairs.flatMap(p => Vector(p._1, p._2)) ++
      inflPairs.flatMap(p => Vector(p._1, p._2)) ++
      derivPairs.flatMap(p => Vector(p._1, p._2)) ++
      ruleInfl.flatMap(p => Vector(p._1, p._2)) ++
      ruleDeriv.flatMap(p => Vector(p._1, p._2)) ++
      synPairs.flatMap(p => Vector(p._1, p._2))).distinct.sorted

    allWords.toDF("word")
      .repartition(math.max(1, math.min(64, allWords.size / 1000 + 1)))
      .as[String]
      .mapPartitions { it =>
        val edges = bcEdges.value
        it.flatMap(w => VariantClosure.close(w, edges)
          .map(v => (w, v.word, v.varLevel, v.history)))
      }.toDF("word", "variant", "var_level", "history")
  }

  // ---------------------------------------------------------------------
  // Parquet persistence: dump a table set in the ingest schemas / load one
  // ---------------------------------------------------------------------

  private def variantDf(spark: SparkSession, m: Map[String, Vector[Variant]]): DataFrame = {
    import spark.implicits._
    m.toVector.sortBy(_._1)
      .flatMap { case (w, vs) => vs.map(v => (w, v.word, v.varLevel, v.history)) }
      .toDF("word", "variant", "var_level", "history")
  }

  /** Write an [[UmlsTables]] to `dir` as parquet side tables in exactly
    * the schemas [[fromDataFrames]] consumes — both the round-trip proof
    * and the recommended deployment shape (build once, load per job).
    */
  def dump(t: UmlsTables, dir: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    def write(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.options(LocalFs.writerOptions).mode("overwrite")
        .parquet(s"$dir/$name")

    val indexed: Set[(String, String)] =
      t.firstWordIndex.valuesIterator.flatten.map(e => (e.cui, e.str)).toSet
    val conso = indexed.toVector.sorted.map { case (cui, str) =>
      (cui, str, t.cuiSources.getOrElse(cui, Vector("UNK")).head,
        if (t.cuiPreferred.get(cui).contains(str)) "Y" else "N", "N")
    } ++ t.cuiPreferred.toVector.sorted.collect {
      // a preferred name that is not itself an indexed string travels as
      // a SUPPRESSED row (names the concept, not matchable) — MRCONSO's
      // TS=P row with SUPPRESS=Y
      case (cui, pref) if !indexed((cui, pref)) =>
        (cui, pref, t.cuiSources.getOrElse(cui, Vector("UNK")).head, "Y", "Y")
    }
    write(conso.toDF("cui", "str", "sab", "ispref", "suppress"), "mrconso")

    write(t.cuiSemTypes.toVector.sortBy(_._1).flatMap { case (c, sts) =>
      sts.zipWithIndex.map { case (s, i) => (c, s, i.toLong) }
    }.toDF("cui", "st", "pos"), "mrsty")
    write(t.cuiSources.toVector.sortBy(_._1).flatMap { case (c, ss) =>
      ss.zipWithIndex.map { case (s, i) => (c, s, i.toLong) }
    }.toDF("cui", "sab", "pos"), "cuisourceinfo")
    write((t.lexCats.toVector.sortBy(_._1).flatMap { case (w, cs) =>
      cs.toVector.sorted.map(w -> _)
    } ++ t.lexiconForms.toVector.sorted.map(_ -> "form"))
      .toDF("word", "cat"), "lexicon")
    write(variantDf(spark, t.variants), "variants")
    if (t.variantsByCat.nonEmpty)
      write(t.variantsByCat.toVector.sortBy(_._1).map { case (c, m) =>
        variantDf(spark, m).withColumn("cat", lit(c))
      }.reduce(_ unionByName _), "variants_by_cat")
    if (t.variantsAllDeriv.nonEmpty)
      write(variantDf(spark, t.variantsAllDeriv), "variants_all_deriv")
    if (t.variantsNoDeriv.nonEmpty)
      write(variantDf(spark, t.variantsNoDeriv), "variants_no_deriv")
    write(t.semnet.toVector.sortBy(_._1).flatMap { case ((s1, s2), rels) =>
      rels.map(r => (s1, r, s2))
    }.toDF("st1", "rel", "st2"), "semnet")
    write(t.relationInverse.toVector.sorted.toDF("rel", "inv"), "relation_inverse")
    write(t.treecodes.toVector.sortBy(_._1).flatMap { case (c, tcs) =>
      tcs.zipWithIndex.map { case (tc, i) => (c, tc, i.toLong) }
    }.toDF("cui", "treecode", "pos"), "treecodes")
    write(t.semTypePriority.toVector.sorted.toDF("st", "priority"), "semtype_priority")
    write(t.splitWords.toVector.sortBy(_._1)
      .map { case (w, (a, b)) => (w, a, b) }.toDF("word", "first", "second"),
      "split_words")
    write(t.stopPhrases.toVector.sortBy(_._1).flatMap { case (p, cs) =>
      cs.toVector.sorted.map(p -> _)
    }.toDF("phrase", "cat"), "stop_phrases")
    write(t.wordCounts.toVector.sorted.toDF("word", "n"), "word_counts")
    write((t.negexPre.map("nega" -> _) ++ t.negexPost.map("negb" -> _) ++
      t.negexPseudo.map("pnega" -> _) ++ t.negexPseudoPost.map("pnegb" -> _) ++
      t.negexConj.map("conj" -> _))
      .groupBy(_._1).toVector.flatMap { case (c, ps) =>
        // trigger-list order is behavior-neutral (trie match) but pos
        // keeps the dump→load round trip field-identical
        ps.zipWithIndex.map { case ((_, ws), i) => (c, ws.mkString(" "), i.toLong) }
      }.toDF("class", "phrase", "pos"), "negex_triggers")
  }

  /** Read a [[dump]]-shaped directory back into an [[UmlsTables]].
    * Existence probes go through the Hadoop FileSystem API, so `dir` can
    * live on any Spark-reachable store (hdfs://, s3a://, file:) — a
    * java.io.File probe would silently treat every remote aux table as
    * absent and quietly change WSD/negex/stop-phrase behavior.
    */
  def load(dir: String)(implicit spark: SparkSession): UmlsTables = {
    val hconf = spark.sparkContext.hadoopConfiguration
    def read(name: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
      if (p.getFileSystem(hconf).exists(p)) Some(spark.read.parquet(s"$dir/$name"))
      else None
    }
    fromDataFrames(
      mrconso = read("mrconso").get,
      mrsty = read("mrsty").get,
      lexicon = read("lexicon").get,
      variants = read("variants").get,
      semnet = read("semnet").get,
      aux = UmlsAuxSources(
        cuiSourceInfo = read("cuisourceinfo"),
        variantsByCat = read("variants_by_cat"),
        variantsAllDeriv = read("variants_all_deriv"),
        variantsNoDeriv = read("variants_no_deriv"),
        relationInverse = read("relation_inverse"),
        treecodes = read("treecodes"),
        semTypePriority = read("semtype_priority"),
        splitWords = read("split_words"),
        stopPhrases = read("stop_phrases"),
        wordCounts = read("word_counts"),
        negexTriggers = read("negex_triggers")))
  }
}
