package graft.pipeline

import graft.aa.AaDetector
import graft.link._
import graft.negex.Negex
import graft.sources.MedlineReader
import graft.text.{Sentence, Sentences, Tok, Tokenizer}
import graft.umls.UmlsTables

/** The per-document NLP kernel: one [[DocKernel.analyze]] of a document
  * (text -> sentences -> phrases -> per-phrase candidates and mappings)
  * and projections of its result — the mention rows, the MMO phrase view
  * and the JSON/XML document tree (graft.output.DocTree) — so every
  * output reads the same structures, like the reference's
  * generate_MMO_terms. Pure function over one document plus the broadcast
  * UMLS tables — embarrassingly parallel, no cross-document state (AAs
  * are document-local, SURVEY §2.3). Runs inside `mapPartitions` on
  * executors; emits ALL best-mapping candidates unless -y is on. The WSD
  * pass (one concept per span, SURVEY §2.11 W1) runs inside the document
  * too: -y and every triple path call [[DocTriples.wsdLocal]].
  */
object DocKernel {

  /** stop_analysis (skr.pl:1158-1166): in the default mode (none of
    * -o/-g/-K/-D in force — check_generate_initial_evaluations_
    * control_options_1, skr.pl:4853-4859), a phrase whose full text is a
    * stop phrase under a category overlapping the phrase's tags produces
    * NO evaluations; -K ignore_stop_phrases disables the skip.
    */
  private def stopAnalysisSkip(phrase: Phrase, umls: UmlsTables,
      tagsByStart: Map[Int, String], opts: LinkOptions): Boolean = {
    val active = !opts.allowOvermatches && !opts.allowConceptGaps &&
      !opts.ignoreStopPhrases && !opts.allDerivationalVariants
    active && phrase.words.nonEmpty && {
        val head = phrase.words.head
        umls.hasFlag(umls.dict.resolve(head.id, head.word), UmlsTables.StopPhraseFirst)
      } && {
        val phraseText = phrase.words.map(_.word).mkString(" ")
        umls.stopPhrases.get(phraseText).exists(stopTags =>
          stopTags.exists(PhraseChunker.phraseTags(phrase, umls, tagsByStart)))
      }
  }

  /** mostly_digits (skr.pl:2010-2015): NO alphabetic char at all AND
    * >49% of the non-whitespace chars are digits — "1 2 mg" is NOT
    * mostly digits ('mg' is alphabetic), "1 2" and "12%" are.
    */
  private[graft] def mostlyDigits(s: String): Boolean =
    !s.exists(_.isLetter) && {
      val noWs = s.filterNot(_.isWhitespace)
      noWs.nonEmpty && noWs.count(_.isDigit).toDouble / noWs.length > 0.49
    }

  /** F6 best-coverage-only discard (term-mode filter_evaluations,
    * skr.pl:1284-1318): drop evaluations covering fewer phrase words
    * than the widest one. Shared by -z term processing and the
    * reference-exact composite-phrase evaluation (whose CompositeOptions
    * include term_processing).
    */
  private def bestCoverageOnly(cands: Vector[graft.link.Candidate])
      : Vector[graft.link.Candidate] =
    if (cands.isEmpty) cands
    else {
      def coveredWords(c: graft.link.Candidate): Int =
        c.matchMap.flatMap(e => e.pBegin to e.pEnd).distinct.size
      val maxCov = cands.map(coveredWords).max
      cands.filter(coveredWords(_) == maxCov)
    }

  /** One phrase's pass through the per-phrase chain (generate_MMO_terms,
    * skr/skr_utilities.pl:1273-1416 + the MMOPhraseTerm shape,
    * skr/skr.pl:946-959): the candidate COUNTS the MMO/JSON/XML writers
    * print (Total/Excluded/Pruned/Remaining) and the kept mappings, whose
    * flattened union is what the mention rows carry.
    */
  final case class PhraseTrace(phrase: Phrase,
      total: Int, excluded: Int, pruned: Int, remaining: Int,
      bestMappings: Vector[(Int, Vector[Candidate])]) {
    /** The mapping candidates, one per (cui, start, end). */
    def candidates: Vector[Candidate] =
      if (bestMappings.isEmpty) Vector.empty
      else if (bestMappings.length == 1 && bestMappings.head._2.length <= 1) bestMappings.head._2
      else bestMappings.flatMap(_._2).distinctBy(c => (c.cui, c.start, c.end))
  }

  /** One sentence of an [[Analysis]]: its tagger categories (empty
    * unless --tagged) and the trace of every phrase it chunks to, in
    * order; a punctuation-only sentence has no phrases.
    */
  final case class SentenceAnalysis(sent: Sentence, tagsByStart: Map[Int, String],
      phrases: Vector[PhraseTrace])

  /** The whole per-document analysis every output is a projection of:
    * [[mentions]], the MMO writer and the JSON/XML document tree.
    */
  final case class Analysis(url: String, text: String, opts: LinkOptions,
      toks: Vector[Tok], sents: Vector[Sentence], aaRecs: Vector[AaDetector.AaRecord],
      aas: VariantGather.AaDict, sentences: Vector[SentenceAnalysis])

  /** Tokenize, split, find AAs, tag, chunk with the composite/AA-span/
    * conj glue, drop --aadef_exact definition phrases and run the
    * per-phrase chain on every phrase stop_analysis does not skip — once
    * per document, whatever the output.
    */
  def analyze(url: String, text: String, umls: UmlsTables,
      opts: LinkOptions = LinkOptions.default): Analysis = {
    val toks = Tokenizer.tokenize(text, umls.dict)
    val sents = if (toks.isEmpty) Vector.empty[Sentence] else Sentences.split(toks)
    // A6: user-defined AAs overlay the document-discovered ones
    val aaRecs = AaDetector.findAaRecords(toks, sents)
    val aas = AaDetector.toMap(aaRecs) ++ opts.udas
    // --aadef_exact: the reference EXP stream drops the defining
    // parenthetical (lib/pos_info.pl:410-470), so phrases inside it never
    // exist; default keeps the definition-site mention
    val defSpans: Vector[(Int, Int)] =
      if (opts.aaDefExact) aaRecs.map(r => (r.defStart, r.defEnd)).distinct
      else Vector.empty
    def inAaDef(p: Phrase): Boolean = p.words.nonEmpty && defSpans.exists(s =>
      p.words.head.start >= s._1 && p.words.last.end <= s._2)
    val sentences = sents.map { sent =>
      // tagged mode (P1): the deterministic bigram tagger assigns one
      // category per word; tags drive chunk membership (P5 analogue) and
      // V10 variant filtering. Default OFF = the pinned --no_tagging mode.
      val tagsByStart: Map[Int, String] =
        if (!opts.tagged) Map.empty
        else {
          val ws = sent.words
          val tags = Tagger.tag(ws.map(PhraseChunker.mmWord), umls)
          ws.map(_.start).zip(tags).toMap
        }
      // --composite_exact replaces the pinned of-gluing with the
      // reference glom (chunk runs glue-free, then compositeGlomExact)
      val phrasesR = PhraseChunker.chunk(sent, umls, tagsByStart,
        if (opts.compositeExact) 0 else opts.compositePhrases, opts.taglessExact)
      val phrases0 =
        if (opts.compositeExact)
          PhraseChunker.compositeGlomExact(phrasesR, sent.toks, sent.words, umls,
            opts.compositePhrases)
        else phrasesR
      // optional phrase merges (P7 --conj, P8 AA-span; off in pinned mode)
      val phrases1 =
        if (opts.aaSpanMerge) PhraseChunker.aaSpanGlue(phrases0, sent.toks, aas)
        else phrases0
      val phrases2 =
        if (opts.conjMerge) PhraseChunker.conjGlue(phrases1, sent.toks, sent.words, umls)
        else phrases1
      val phrases = if (defSpans.isEmpty) phrases2 else phrases2.filterNot(inAaDef)
      SentenceAnalysis(sent, tagsByStart, phrases.map { phrase =>
        // stop-phrase analogue: single closed-class or 1-char phrases
        // skip; the writers show a skipped phrase with 0 candidates
        if (phrase.words.isEmpty ||
          (phrase.words.length == 1 && phrase.words.head.word.length <= 1) ||
          stopAnalysisSkip(phrase, umls, tagsByStart, opts))
          PhraseTrace(phrase, 0, 0, 0, 0, Vector.empty)
        else phraseTrace(phrase, umls, aas, tagsByStart, opts, termMode = false)
      })
    }
    Analysis(url, text, opts, toks, sents, aaRecs, aas, sentences)
  }

  /** The per-phrase chain: gather, evaluate, filter, prune, map.
    * `termMode` is -z term processing: best-coverage-only always, and
    * mapping construction without the variant-index words.
    */
  private def phraseTrace(phrase: Phrase, umls: UmlsTables,
      aas: VariantGather.AaDict, tagsByStart: Map[Int, String],
      opts: LinkOptions, termMode: Boolean): PhraseTrace = {
    // a reference-exact composite phrase evaluates under
    // CompositeOptions = [term_processing, ignore_word_order]
    // (get_composite_phrases, skr.pl:4629): -i scoring plus the
    // term-mode best-coverage discard
    val phOpts = if (phrase.composite) opts.copy(ignoreWordOrder = true) else opts
    val varIndex = VariantGather.gather(phrase, umls, aas, tagsByStart, phOpts)
    // reference order: filter first (skr.pl:913,1408), then the F3
    // subsumption filter (skr.pl:1312-1318), THEN prune inside mapping
    // construction (skr.pl:3452-3459) with the adaptive threshold + grid
    // gate (G1/G3)
    val filtered = optionFilters(
      Evaluator.evaluatePhrase(phrase, umls, varIndex, phOpts), phOpts)
    val unsubsumed = Evaluator.filterSubsumed(filtered, phOpts)
    val pruned = Pruning.adaptivePrune(unsubsumed, phrase.words.length, phOpts)
    val cands = if (phrase.composite || termMode) bestCoverageOnly(pruned) else pruned
    val maps = Evaluator.bestMappings(cands, phrase.words.length, phOpts,
      if (termMode) Set.empty else varIndex.keySet)
    // reference count semantics (skr.pl:914-929): Total = after the
    // option filters, Excluded = dropped by F3 subsumption, Pruned =
    // dropped by G1/G2, Remaining = what mappings see
    PhraseTrace(phrase, filtered.length, filtered.length - unsubsumed.length,
      unsubsumed.length - cands.length, cands.length, maps)
  }

  def mentions(url: String, text: String, umls: UmlsTables,
      opts: LinkOptions = LinkOptions.default): Vector[Mention] =
    mentions(analyze(url, text, umls, opts), umls)

  /** The mention rows of one input cell, the record path every entry
    * (Pipeline.mentions, Graft.annotate, graft_mentions, the server) runs: the cell is
    * segmented into records under --sldi / --sldiID / --blanklines N
    * (skr_text_processing.pl:142-178; AAs stay record-local; a null id is
    * the empty id), then each record is linked as running text, or as one
    * dictionary term under -z.
    */
  def annotate(id: String, text: String, umls: UmlsTables,
      opts: LinkOptions): Vector[Mention] =
    MedlineReader.records(id, text, opts).flatMap { case (url, rt) =>
      if (opts.termProcessing) termMentions(url, rt, umls, opts)
      else mentions(url, rt, umls, opts)
    }

  /** The mention rows of an analysis: each phrase's mapping candidates,
    * NegEx-marked per sentence; -y keeps one concept per span, ranked
    * exactly like the corpus-level Pipeline.wsdDedup window.
    */
  def mentions(a: Analysis, umls: UmlsTables): Vector[Mention] =
    mentions(a, umls, lexCats = true)

  /** [[mentions]], with each row's lexical category resolved only when
    * `lexCats` is set (else "UNKNOWN"): the triples read no category.
    */
  private[pipeline] def mentions(a: Analysis, umls: UmlsTables,
      lexCats: Boolean): Vector[Mention] = {
    val out = Vector.newBuilder[Mention]
    a.sentences.foreach { s =>
      val sentMentions = Vector.newBuilder[Mention]
      var any = false
      s.phrases.foreach { t =>
        val cands = t.candidates
        if (cands.nonEmpty) {
          any = true
          val syntax =
            if (lexCats) PhraseChunker.syntaxMap(t.phrase, umls, s.tagsByStart) else null
          cands.foreach(c =>
            sentMentions += mention(a.url, s.sent.sentNo, a.text, c, syntax, a.aas))
        }
      }
      if (any) out ++= Negex.markWithRecords(s.sent, sentMentions.result(), umls, a.opts)._1
    }
    if (a.opts.wsd)
      DocTriples.wsdLocal(out.result(), umls).sortBy(m => (m.sentNo, m.start, m.len, m.cui))
    else out.result()
  }

  private def mention(url: String, sentNo: Int, text: String, c: Candidate,
      syntax: Map[String, String], aas: VariantGather.AaDict): Mention = {
    val mText = text.substring(c.start, c.end)
    Mention(url, sentNo, c.start, c.end - c.start, c.cui, c.score,
      c.semTypes, negated = false, mText, c.posInfo, c.sources,
      term = c.str,
      lexCat = if (syntax == null) "UNKNOWN" else mentionLexCat(mText, c, syntax, aas))
  }

  /** F1 threshold (-r), F5 numerical filter (--no_nums), F4 semtype
    * restrict/exclude (-J/-k) — skr.pl:1239-1318,4451-4458; shared by the
    * document and -z term paths.
    */
  private[graft] def optionFilters(cands: Vector[graft.link.Candidate],
      opts: LinkOptions): Vector[graft.link.Candidate] = {
    // -r threshold runs in compute_evaluations (skr.pl:1408,
    // maybe_filter_evaluations_by_threshold) BEFORE filter_evaluations —
    // so a below-threshold candidate can never cascade-kill a survivor
    val afterThreshold =
      if (opts.scoreThreshold <= 0) cands
      else cands.filter(_.score >= opts.scoreThreshold)
    // user exclusions run FIRST inside filter_evaluations (skr.pl:1224-1237):
    // a --nomap pair (term, cui) with "" as a wildcard on either side
    val afterNomap =
      if (opts.noMap.isEmpty) afterThreshold
      else afterThreshold.filterNot(c => opts.noMap.exists { case (t, k) =>
        (t.isEmpty || t == c.str) && (k.isEmpty || k == c.cui)
      })
    // F4 source restrict/exclude (-R/-e, skr.pl:1247-1262): restrict wins
    // over exclude, matching the if-then-else chain; a candidate survives
    // -R if ANY of its source vocabularies is in the restricted set
    val afterSources =
      if (opts.restrictSources.nonEmpty)
        afterNomap.filter(_.sources.exists(opts.restrictSources))
      else if (opts.excludeSources.nonEmpty)
        afterNomap.filterNot(_.sources.exists(opts.excludeSources))
      else afterNomap
    // F4 semtype restrict/exclude (skr.pl:1272-1283): mutually exclusive
    // branches, restrict_to_sts first. ONLY the restrict branch keeps its
    // Discarded side for --cascade (maybe_discard_overlapping_evaluations);
    // the exclude branch ignores it (_Discarded)
    val (kept, cascadeDiscarded) =
      if (opts.restrictSemTypes.nonEmpty)
        afterSources.partition(_.semTypes.exists(opts.restrictSemTypes))
      else if (opts.excludeSemTypes.nonEmpty)
        (afterSources.filterNot(_.semTypes.exists(opts.excludeSemTypes)),
          Vector.empty[graft.link.Candidate])
      else (afterSources, Vector.empty[graft.link.Candidate])
    // --cascade (discard_overlapping_evaluations, skr.pl:1284-1309): a
    // kept candidate positionally overlapping any restrict-discarded one
    // goes too. spans_overlap (skr.pl:3791-3799) is the STAGGERED test —
    // proper containment does not trigger it — with inclusive bounds on
    // EndPos = Start + Length; replicated exactly.
    def spans(c: graft.link.Candidate): Vector[(Int, Int)] =
      if (c.posInfo.nonEmpty) c.posInfo.map(p => (p._1, p._1 + p._2))
      else Vector((c.start, c.end))
    def overlap(a: (Int, Int), b: (Int, Int)): Boolean =
      (a._1 <= b._1 && b._1 <= a._2 && a._2 <= b._2) ||
        (b._1 <= a._1 && a._1 <= b._2 && b._2 <= a._2)
    val afterCascade =
      if (!opts.cascade || cascadeDiscarded.isEmpty) kept
      else {
        val dSpans = cascadeDiscarded.flatMap(spans)
        kept.filterNot(c => spans(c).exists(s => dSpans.exists(overlap(s, _))))
      }
    // numerical filter LAST among the option filters
    // (filter_numerical_evaluations runs after semtypes, skr.pl:1231)
    if (!opts.noNums) afterCascade
    else afterCascade.filter { c =>
      // mostly_digits (skr.pl:2010-2015): the candidate's META string
      // must contain NO alphabetic character at all, and >49% of its
      // non-whitespace chars must be digits ("1 2 mg" is KEPT — 'mg'
      // is alphabetic); gated by the option's semtype list
      val gated = opts.noNumsSemTypes.isEmpty ||
        opts.noNumsSemTypes.contains("all") || opts.noNumsSemTypes.contains("ALL") ||
        c.semTypes.exists(opts.noNumsSemTypes)
      !(gated && mostlyDigits(c.str))
    }
  }

  /** Term processing (-z, skr/skr_fe.pl options; SURVEY §2.8 F6): the
    * input is ONE term, not running text — no sentence split, no
    * chunking; all word tokens form a single phrase (head = last word)
    * and the overlapping-eval discard keeps only best-coverage
    * candidates (filter_evaluations in term mode, skr.pl:1284-1318)
    * before mapping construction. The dictionary-lookup mode of the
    * reference pipeline.
    */
  def termMentions(url: String, term: String, umls: UmlsTables,
      opts: LinkOptions = LinkOptions.default): Vector[Mention] = {
    if (term.isEmpty) return Vector.empty
    // dictionary terms arrive in Metathesaurus citation form — normalize
    // exactly like index strings (uninversion + NOS strip,
    // lib/nls_strings.pl:491-556) so "Cancer, Liver" probes in order;
    // the C2 narrow indexes assume in-order first-word probes
    val normTerm = graft.umls.MiniUmls.normalizeString(term).mkString(" ")
    if (normTerm.isEmpty) return Vector.empty
    val toks = Tokenizer.tokenize(normTerm)
    val words = Tokenizer.wordToks(toks)
      .map(t => PWord(PhraseChunker.mmWord(t), t.start, t.end))
    if (words.isEmpty) return Vector.empty
    val phrase = Phrase(words, words.length - 1)
    lazy val syntax = PhraseChunker.syntaxMap(phrase, umls)
    phraseTrace(phrase, umls, Map.empty, Map.empty, opts, termMode = true)
      .candidates.map(c => mention(url, 0, normTerm, c, syntax, Map.empty))
  }

  /** Bounded per-executor memo for tokenize_text_mm of BROADCAST-table
    * strings (concept names / Metathesaurus strings): their vocabulary is
    * fixed by the tables, so the cap is a guard, never a correctness
    * concern (a miss just recomputes).
    */
  private val mmToksCache =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[String]]()
  private def mmToksCached(s: String): Vector[String] = {
    val hit = mmToksCache.get(s)
    if (hit != null) hit
    else {
      val v = Tokenizer.tokenizeMmLc(s)
      if (mmToksCache.size < 500000) mmToksCache.put(s, v)
      v
    }
  }

  /** get_lexcat (mmi.pl:452-491): resolve the mention's word forms — AA
    * expansion tokens when a token of the mention text is a detected AA,
    * the mention text's own tokens, the lowercased concept/term strings'
    * tokens and the meta words — against the phrase's categories (the
    * Syntax analogue) and keep the minimum-weight category: noun 0 < adj
    * 1 < verb 2 < everything else 3, alphabetically first within a tied
    * weight (the reference sorts Weight-LexCat pairs and takes the head);
    * UNKNOWN when nothing resolves.
    */
  private def mentionLexCat(mentionText: String, c: Candidate,
      syntax: Map[String, String],
      aas: graft.link.VariantGather.AaDict): String = {
    // streaming min over the token sources — duplicates cannot change the
    // (weight, cat) minimum, so the former distinct/concat is unnecessary
    var bestW = 4
    var best: String = null
    def consider(tok: String): Unit = syntax.get(tok) match {
      case Some(cat) =>
        val w = lexcatWeight(cat)
        if (w < bestW || (w == bestW && (best == null || cat < best))) {
          bestW = w; best = cat
        }
      case None =>
    }
    val textToks = Tokenizer.tokenizeMmLc(mentionText)
    if (aas.nonEmpty) {
      (mentionText.trim.toLowerCase +: textToks).foreach(t =>
        aas.get(t).foreach(_.foreach(e => Tokenizer.tokenizeMmLc(e).foreach(consider))))
    }
    textToks.foreach(consider)
    mmToksCached(c.concept).foreach(consider)
    mmToksCached(c.str).foreach(consider)
    c.metaWords.foreach(consider)
    if (best == null) "UNKNOWN" else best
  }

  private def lexcatWeight(cat: String): Int = cat match {
    case "noun" => 0
    case "adj" => 1
    case "verb" => 2
    case _ => 3
  }
}
