package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.broadcast.Broadcast

import graft.link.{LinkOptions, Mention}
import graft.pipeline.{DocKernel, DocTriples, Pipeline}
import graft.umls.UmlsTables

/** The user-facing library API — what the reference exposes as the
  * `metamap` CLI (skr/skr_fe.pl:240-288) and the PrologBeans server
  * (mmserver/mmserver.pl:1), re-expressed over arbitrary DataFrames: any
  * table with an id column and a text column can be annotated, linked and
  * turned into triples with one call, options carried by [[LinkOptions]]
  * (or parsed from the reference's own CLI flags via
  * [[Graft.parseFlags]]).
  */
object Graft {

  /** Parse the subset of reference CLI flags this engine honors
    * (lib/nls_system.pl:150-329). Unknown flags throw — silently ignoring
    * an option the user asked for would change results.
    *
    * Supported: -i/--ignore_word_order, -o/--allow_overmatches,
    * -g/--allow_concept_gaps, -Y/--prefer_multiple_concepts,
    * -b/--compute_all_mappings, --conj, -r/--threshold N,
    * --min_length N, --no_nums, -J/--restrict_to_sts st1,st2,
    * -k/--exclude_sts st1,st2, -R/--restrict_to_sources src1,src2,
    * -e/--exclude_sources src1,src2.
    */
  def parseFlags(flags: Seq[String]): LinkOptions = {
    var o = LinkOptions.default
    var i = 0
    def arg(): String = {
      i += 1
      if (i >= flags.length || flags(i).startsWith("-"))
        throw new IllegalArgumentException(s"option ${flags(i - 1)} needs a value")
      flags(i)
    }
    while (i < flags.length) {
      flags(i) match {
        case "-i" | "--ignore_word_order" => o = o.copy(ignoreWordOrder = true)
        case "-o" | "--allow_overmatches" => o = o.copy(allowOvermatches = true)
        case "-g" | "--allow_concept_gaps" => o = o.copy(allowConceptGaps = true)
        case "-Y" | "--prefer_multiple_concepts" => o = o.copy(preferMultiple = true)
        case "-b" | "--compute_all_mappings" => o = o.copy(computeAllMappings = true)
        case "--conj" => o = o.copy(conjMerge = true)
        case "-y" | "--word_sense_disambiguation" => o = o.copy(wsd = true)
        case "--aa_span_merge" => o = o.copy(aaSpanMerge = true)
        case "-z" | "--term_processing" => o = o.copy(termProcessing = true)
        case "-r" | "--threshold" => o = o.copy(scoreThreshold = arg().toInt)
        case "--prune" => o = o.copy(prune = Some(arg().toInt))
        case "--no_prune" => o = o.copy(noPrune = true)
        case "--tagged" => o = o.copy(tagged = true)
        case "--no_tagging" => o = o.copy(tagged = false) // the pinned default
        case "--min_length" => o = o.copy(minLength = arg().toInt)
        case "--no_nums" =>
          // the reference takes a mandatory semtype list ('all' included);
          // a following non-flag token is that list, a bare --no_nums
          // means all (back-compatible shorthand)
          if (i + 1 < flags.length && !flags(i + 1).startsWith("-"))
            o = o.copy(noNums = true, noNumsSemTypes = arg().split(',').toSet)
          else o = o.copy(noNums = true)
        case "-J" | "--restrict_to_sts" =>
          o = o.copy(restrictSemTypes = arg().split(',').toSet)
        case "-k" | "--exclude_sts" =>
          o = o.copy(excludeSemTypes = arg().split(',').toSet)
        // -R/-e take source-vocabulary names; the reference converts to
        // ROOT sources and uppercases (convert_to_root_sources +
        // upper_list, skr.pl:1247-1262) — replicate the case folding
        case "-R" | "--restrict_to_sources" =>
          o = o.copy(restrictSources =
            arg().split(',').map(_.toUpperCase(java.util.Locale.ROOT)).toSet)
        case "-e" | "--exclude_sources" =>
          o = o.copy(excludeSources =
            arg().split(',').map(_.toUpperCase(java.util.Locale.ROOT)).toSet)
        case "--cascade" => o = o.copy(cascade = true)
        case "--all_derivational_variants" =>
          o = o.copy(allDerivationalVariants = true)
        case "-d" | "--no_derivational_variants" =>
          o = o.copy(noDerivationalVariants = true)
        case "-K" | "--ignore_stop_phrases" => o = o.copy(ignoreStopPhrases = true)
        case "-Q" | "--composite_phrases" => o = o.copy(compositePhrases = arg().toInt)
        // parity-mode toggles (graft-specific names: the reference has no
        // flag for these — they ARE its only behavior; our defaults are
        // the pinned round-1 approximations)
        case "--composite_exact" => o = o.copy(compositeExact = true)
        case "--tagless_exact" => o = o.copy(taglessExact = true)
        case "--aadef_exact" => o = o.copy(aaDefExact = true)
        case "--negex_st_add" => o = o.copy(negexStAdd = arg().split(',').toSet)
        case "--negex_st_del" => o = o.copy(negexStDel = arg().split(',').toSet)
        case "--negex_st_set" => o = o.copy(negexStSet = arg().split(',').toSet)
        // env-var analogues NEGEX_UTTERANCE_MAX_DIST / NEGEX_CONCEPT_MAX_DIST
        // (negex.pl:152-157); setting either engages the reference's
        // two-distance window rule (documented values 20/10)
        // input segmentation (skr_text_processing.pl:142-178)
        case "--sldi" => o = o.copy(sldi = true)
        case "--sldiID" => o = o.copy(sldiId = true)
        case "--blanklines" => o = o.copy(blankLines = Some(arg().toInt))
        case "--negex_utterance_max_dist" =>
          o = o.copy(negexUtteranceMaxDist = Some(arg().toInt))
        case "--negex_concept_max_dist" =>
          o = o.copy(negexConceptMaxDist = Some(arg().toInt))
        case "--UDA" =>
          // file of a|b pairs (get_UDAs, text_objects.pl:3737-3745);
          // merged over any UDAs already parsed
          o = o.copy(udas = o.udas ++ parseUdaLines(readTextFile(arg())))
        case "--nomap" =>
          // the reference takes a FILE of String|CUI pairs
          // (create_UDAs Type='NoMap', text_objects.pl:3773-3795) — an
          // existing-file argument reads that format; otherwise the API's
          // inline form term:cui[,term:cui...] applies — empty side =
          // wildcard (an all-empty element would be a match-everything
          // wildcard that silently zeroes the corpus, so it is rejected)
          val v = arg()
          // dispatch rules: "@path" is EXPLICITLY a file (works for paths
          // containing ':'); a colon-free argument naming an existing
          // file reads the reference format; anything else is inline —
          // so a stray file named "fever:C0015967" cannot hijack an
          // inline exclusion, and a colon-bearing path is reachable
          // via the @ prefix
          if (v.startsWith("@"))
            o = o.copy(noMap = o.noMap ++ parseNoMapLines(readTextFile(v.drop(1))))
          else if (!v.contains(':') && new java.io.File(v).isFile)
            o = o.copy(noMap = o.noMap ++ parseNoMapLines(readTextFile(v)))
          else o = o.copy(noMap = v.split(',').iterator.map { p =>
            if (p.isEmpty || p == ":")
              throw new IllegalArgumentException(
                s"--nomap element '$p' would exclude every candidate")
            val idx = p.lastIndexOf(':')
            if (idx < 0) (p, "") else (p.take(idx), p.drop(idx + 1))
          }.toSet)
        case f => throw new IllegalArgumentException(s"unsupported option: $f")
      }
      i += 1
    }
    o
  }

  private def readTextFile(path: String): String = {
    val f = new java.io.File(path)
    if (!f.isFile)
      throw new IllegalArgumentException(s"cannot read file: $path")
    new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Parse UDA-file content (create_UDAs + get_UDA_short_and_long_forms,
    * text_objects.pl:3748-3830): one `a|b` pair per line, either order —
    * the SHORTER side is the AA, the longer the expansion; lines sorted;
    * whitespace trimmed; `#`-first lines are comments; exactly one `|`
    * per data line or it is a fatal error.
    */
  def parseUdaLines(content: String): Map[String, Vector[String]] =
    content.split("\n", -1).toVector.map(_.trim).sorted
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val parts = l.split("\\|", -1)
        if (parts.length != 2)
          throw new IllegalArgumentException(
            s"Each data line in UDA file must contain exactly one '|' char: $l")
        val (a, b) = (parts(0).trim, parts(1).trim)
        val (short, long) = if (a.length <= b.length) (a, b) else (b, a)
        short.toLowerCase -> graft.text.Tokenizer.tokenizeMmLc(long)
      }.toMap

  /** Parse NoMap-file content (get_NoMap_string_and_CUI,
    * text_objects.pl:3780-3797): one `String|CUI` pair per line, either
    * order — the side shaped like a CUI (`C` + digits) is the CUI.
    */
  def parseNoMapLines(content: String): Set[(String, String)] = {
    // real Metathesaurus CUIs are C + exactly 7 digits; a looser
    // C+digits test would misread biomedical terms like complement
    // component "C3" as the CUI side and silently invert the pair
    def looksLikeCui(s: String): Boolean =
      s.length == 8 && s.head == 'C' && s.tail.forall(_.isDigit)
    content.split("\n", -1).toVector.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val parts = l.split("\\|", -1)
        if (parts.length != 2)
          throw new IllegalArgumentException(
            s"Each data line in NoMap file must contain exactly one '|' char: $l")
        val (a, b) = (parts(0).trim, parts(1).trim)
        if (looksLikeCui(a)) (b, a) else (a, b)
      }.toSet
  }

  /** Register the NLP surface as SQL functions on a session, so pure-SQL
    * users get the same kernel:
    * {{{
    *   Graft.registerSql(spark, umls)
    *   spark.sql("""SELECT id, m.cui, m.score, m.negated
    *                FROM docs LATERAL VIEW explode(graft_mentions(id, body)) AS m""")
    * }}}
    * `graft_mentions(id, text)` returns the full typed mention array;
    * `graft_triples(id, text)` the document-local triples. Both run the
    * same record path as [[annotate]] and [[triples]], so `opts`'
    * segmentation, -z and the null-id rule apply, over the table set
    * `umls`.
    */
  def registerSql(spark: SparkSession, umls: Broadcast[UmlsTables],
      opts: LinkOptions = LinkOptions.default): Unit = {
    spark.udf.register("graft_mentions",
      org.apache.spark.sql.functions.udf((id: String, text: String) =>
        if (text == null) Seq.empty[Mention]
        else DocKernel.annotate(id, text, umls.value, opts)))
    spark.udf.register("graft_triples",
      org.apache.spark.sql.functions.udf((id: String, text: String) =>
        if (text == null) Seq.empty[(String, String, String, String, Int)]
        else DocTriples.fromText(id, text, umls.value, opts)))
  }

  /** A table's cells as the documents of [[Pipeline.perDocument]]: (id
    * cast to string, text cast to string), so ANY id type works (a bigint
    * doc_id would otherwise fail encoder resolution before any work runs).
    */
  private def cells(df: DataFrame, idCol: String, textCol: String): Dataset[(String, String)] = {
    import df.sparkSession.implicits._
    df.select(df.col(idCol).cast("string"), df.col(textCol).cast("string")).as[(String, String)]
  }

  /** Annotate any table: one mention row per linked concept occurrence.
    * `textCol` must hold plain text (use Extract.htmlToText upstream for
    * html). Runs the record path ([[DocKernel.annotate]]: segmentation,
    * then running text or -z terms) map-side against the broadcast
    * tables, through the operator and record function of
    * Pipeline.mentions, free of the Page schema.
    */
  def annotate(df: DataFrame, idCol: String, textCol: String, umls: Broadcast[UmlsTables],
      opts: LinkOptions = LinkOptions.default): DataFrame = {
    import df.sparkSession.implicits._
    Pipeline.perDocument(cells(df, idCol, textCol), umls)(_._2)((c, text, t) =>
      DocKernel.annotate(c._1, text, t, opts)).toDF()
  }

  /** Term processing (-z): each row's text is ONE dictionary term; the
    * best-coverage candidates (F6) link it to concepts. The batch
    * dictionary-lookup mode.
    */
  def annotateTerms(df: DataFrame, idCol: String, termCol: String, umls: Broadcast[UmlsTables],
      opts: LinkOptions = LinkOptions.default): DataFrame =
    annotate(df, idCol, termCol, umls, opts.copy(termProcessing = true))

  /** Triples from any table, map-side end to end (document-local WSD +
    * sentence-window pairing; see DocTriples).
    */
  def triples(df: DataFrame, idCol: String, textCol: String, umls: Broadcast[UmlsTables],
      opts: LinkOptions = LinkOptions.default): DataFrame = {
    import df.sparkSession.implicits._
    Pipeline.perDocument(cells(df, idCol, textCol), umls)(_._2)((c, text, t) =>
      DocTriples.fromText(c._1, text, t, opts))
      .toDF("subj_cui", "pred", "obj_cui", "url", "sentNo")
  }

  /** Canonicalized graph from any table (annotate -> triples -> rollup). */
  def graph(df: DataFrame, idCol: String, textCol: String, umls: Broadcast[UmlsTables],
      opts: LinkOptions = LinkOptions.default): DataFrame =
    Pipeline.graph(triples(df, idCol, textCol, umls, opts), umls)(df.sparkSession)
}
