package graft.link

import graft.text.{Sentence, Tok, Tokenizer}
import graft.umls.{LexWord, UmlsTables}

/** Minimal-commitment phrase chunker, re-expressing the boundary rules of
  * lib/mincoman.pl:93-103,262-381 with tagless category resolution
  * (lib/mincoman.pl:106-240 — the reference's --no_tagging mode, our
  * pinned parity mode per SURVEY.md §7).
  *
  * Rules:
  *  - category per word from the broadcast lexicon; unknown words default
  *    to noun (not_in_lex -> noun), N/V-ambiguous -> noun;
  *  - phrase boundaries open at det/prep/conj/verb/aux/pron/adv and at any
  *    punctuation (mincoman boundary set);
  *  - a phrase is a maximal run of adj/noun words; its head is the final
  *    noun (else the final word) — minimal commitment: no deep syntax;
  *  - composite gluing (skr.pl:4619-4718, default composite_phrases): an
  *    NP followed by "of" + NP is glued into one composite phrase keeping
  *    the FIRST NP's head.
  */
object PhraseChunker {

  private def resolveCat(lw: LexWord): String =
    if (lw == null) "noun" else lw.taglessCat

  private def resolveCat(w: PWord, umls: UmlsTables): String =
    resolveCat(umls.lexOf(umls.dict.resolve(w.id, w.word)))

  /** The tagless category of a word with lexical categories `cats`
    * (precomputed per lexicon word in [[UmlsTables.wordLex]]).
    */
  private[graft] def taglessCat(cats: Set[String]): String =
    if (cats.isEmpty) "noun"
    else if (cats.contains("det")) "det"
    else if (cats.contains("prep")) "prep"
    else if (cats.contains("conj")) "conj"
    else if (cats.contains("pron")) "pron"
    else if (cats.contains("aux")) "aux"
    // modal/compl are boundary categories in the reference's set
    // (mark_boundaries: [aux,compl,conj,modal,prep,verb]) — a real
    // SPECIALIST lexicon (fromRrf) carries these cats, and letting a
    // modal-only word default to noun would glue two NPs
    else if (cats.contains("modal")) "modal"
    else if (cats.contains("compl")) "compl"
    else if (cats.contains("noun")) "noun" // N/V ambiguity -> noun
    else if (cats.contains("adj")) "adj"
    else if (cats.contains("verb")) "verb"
    else if (cats.contains("adv")) "adv"
    else "noun"

  /** Syntactic tags of a phrase's words (extract_syntactic_tags
    * analogue, used by the stop_analysis phrase skip): the tagger's
    * category where tagged, else tagless resolution — exactly the
    * categories chunking itself ran under.
    */
  def phraseTags(p: Phrase, umls: UmlsTables,
      tagsByStart: Map[Int, String] = Map.empty): Set[String] =
    p.words.iterator
      .map(w => tagsByStart.getOrElse(w.start, resolveCat(w, umls))).toSet

  /** Word -> category map of a phrase (the Syntax pair-list analogue the
    * MMI lexcat resolution probes, mmi.pl:484-491): the tagger's category
    * where tagged, else the tagless resolution chunking itself ran under;
    * keyed by the mm-normalized lowercase surface word.
    */
  def syntaxMap(p: Phrase, umls: UmlsTables,
      tagsByStart: Map[Int, String] = Map.empty): Map[String, String] =
    p.words.iterator
      .map(w => w.word -> tagsByStart.getOrElse(w.start, resolveCat(w, umls)))
      .toMap

  /** Lexical form of a word token for matching: mm-normalized lowercase,
    * first sub-word if normalization splits (shared by document chunking
    * and -z term processing so the two paths cannot diverge).
    */
  def mmWord(t: Tok): String =
    if (Tokenizer.isMmWord(t.lc)) t.lc
    else {
      val ws = Tokenizer.tokenizeMmLc(t.lc)
      if (ws.isEmpty) t.lc else ws.head
    }

  /** The punc_mark1 boundary set (lib/mincoman.pl:374-389): the ONLY
    * punctuation that unconditionally breaks a phrase in the reference's
    * tagless mode ('/' and ',' deliberately absent — the comma breaks
    * conditionally in adjust_for_comma, mincoman.pl:435-443).
    */
  private val puncMark1: Set[String] =
    Set(":", "(", ")", "[", "]", ";", "<", ">", "=", "*")

  /** Tagless category resolution in reference-exact mode: the convert/2
    * clause order (lib/mincoman.pl:128-240) — "not" is adv before
    * anything else, closed classes next, then noun beats adj beats adv,
    * a pastpart-featured verb resolves to "pastpart" (labelled adj,
    * boundary-opening — "All potential pp's are tagged as adj"), verb
    * and pron come LAST, unknown words are nouns.
    */
  private def resolveCatExact(w: String, umls: UmlsTables): String = {
    if (w == "not") return "adv"
    val cats = umls.lexCats.getOrElse(w, Set.empty)
    if (cats.isEmpty) "noun"
    else if (cats.contains("prep")) "prep"
    else if (cats.contains("aux")) "aux"
    else if (cats.contains("modal")) "modal"
    else if (cats.contains("conj")) "conj"
    else if (cats.contains("compl")) "compl"
    else if (cats.contains("det")) "det"
    else if (cats.contains("noun")) "noun"
    else if (cats.contains("adj")) "adj"
    else if (cats.contains("adv")) "adv"
    else if (cats.contains("pastpart")) "pastpart"
    else if (cats.contains("verb")) "verb"
    else if (cats.contains("pron")) "pron"
    else "noun"
  }

  /** Chunk one sentence's tokens (full stream incl. ws/pn) into phrases.
    * `tagsByStart` (word start offset -> category) carries tagger output
    * in tagged mode (P5 consult_tagged_text analogue): a provided tag
    * replaces tagless resolution for that word, so a verb-tagged
    * noun/verb-ambiguous word breaks the phrase instead of joining it.
    * `taglessExact` switches boundary semantics to the reference-exact
    * rules (see [[LinkOptions.taglessExact]]).
    */
  def chunk(toks: Vector[Tok], umls: UmlsTables,
      tagsByStart: Map[Int, String] = Map.empty,
      maxComposite: Int = 4,
      taglessExact: Boolean = false): Vector[Phrase] =
    chunk(Sentence(0, 0, 0, toks), umls, tagsByStart, maxComposite, taglessExact)

  /** [[chunk]] of a sentence (only its tokens are read), over its word
    * tokens made once: a token the tokenizer numbered is a word whose lc
    * is already mm-normalized, any other is normalized and probed here.
    */
  def chunk(sent: Sentence, umls: UmlsTables, tagsByStart: Map[Int, String],
      maxComposite: Int, taglessExact: Boolean): Vector[Phrase] = {
    val words = sent.words
    val wNorm = new Array[String](words.length)
    val wIds = new Array[Int](words.length)
    var i = 0
    while (i < words.length) {
      val t = words(i)
      if (t.id != Tok.Unresolved) { wNorm(i) = t.lc; wIds(i) = t.id }
      else { wNorm(i) = mmWord(t); wIds(i) = umls.dict.id(wNorm(i)) }
      i += 1
    }
    chunkWords(sent.toks, words, wNorm, wIds, umls, tagsByStart, maxComposite, taglessExact)
  }

  /** Chunking over the word tokens `words` of `toks`, with each word's
    * mm-normalized form and dictionary id.
    */
  private def chunkWords(toks: Vector[Tok], words: Vector[Tok], wNorm: Array[String],
      wIds: Array[Int], umls: UmlsTables, tagsByStart: Map[Int, String],
      maxComposite: Int, taglessExact: Boolean): Vector[Phrase] = {
    // content runs: adj/noun sequences
    val phrases = scala.collection.mutable.ArrayBuffer[Phrase]()
    val cur = scala.collection.mutable.ArrayBuffer[PWord]()
    // the current run's last noun, last adjective and last category
    // (adverbs joined in exact mode are never heads)
    var curLastNoun = -1
    var curLastAdj = -1
    var curLastCat: String = null
    // track whether a pn token interrupts between word tokens
    var lastEnd = -1

    // Web-scale guard: an adversarial page (a thousands-long unpunctuated
    // noun run — real Common-Crawl tag soup) would otherwise form one
    // giant phrase whose variant-position scan is quadratic and stall the
    // task. Real prose never approaches this (the reference caps merged
    // phrases at 20 words); parity corpora are unaffected.
    val MaxPhraseWords = 50

    def flush(): Unit = {
      if (cur.nonEmpty) {
        // potential heads are nouns, then adjectives (mark_boundaries:
        // "Nouns and adjectives are labelled as potential heads")
        val headIdx =
          if (curLastNoun >= 0) curLastNoun
          else if (curLastAdj >= 0) curLastAdj
          else cur.length - 1
        phrases += Phrase(cur.toVector, headIdx)
        cur.clear()
      }
      curLastNoun = -1
      curLastAdj = -1
      curLastCat = null
    }
    def add(w: PWord, cat: String): Unit = {
      if (cat == "noun") curLastNoun = cur.length
      else if (cat == "adj") curLastAdj = cur.length
      cur += w
      curLastCat = cat
    }

    // punctuation positions that break phrases. Pinned mode: any pn
    // except apostrophe inside a possessive (already folded by wordToks)
    // and hyphen, which joins (tokenize_text breaks at space+hyphen, T3).
    // Exact mode: only the punc_mark1 set plus the double-hyphen rule
    // (mark_boundaries, mincoman.pl:310-317); the comma is handled
    // conditionally below.
    // token starts ascend, and lastEnd/t.start ascend across the word
    // loop, so "a breaking pn in [lastEnd, t.start)" is a two-pointer
    // walk over ascending position arrays (the former Set.exists scanned
    // every punct per word)
    val breakArr: Array[Int] = {
      val b = Array.newBuilder[Int]
      var k = 0
      while (k < toks.length) {
        val t = toks(k)
        if (t.isPunct) {
          if (!taglessExact) { if (t.text != "'" && t.text != "-") b += t.start }
          else if (puncMark1.contains(t.text) ||
            (t.text == "-" && k + 1 < toks.length && toks(k + 1).isPunct &&
              toks(k + 1).text == "-")) b += t.start
        }
        k += 1
      }
      b.result()
    }
    // comma positions, for the adjust_for_comma conditional break
    val commaArr: Array[Int] =
      if (!taglessExact) Array.emptyIntArray
      else {
        val b = Array.newBuilder[Int]
        toks.foreach(t => if (t.isPunct && t.text == ",") b += t.start)
        b.result()
      }
    var bi = 0
    var ci = 0

    val nw = words.length
    val cats = new Array[String](nw)
    val tagged = tagsByStart.nonEmpty
    var wi = 0
    while (wi < nw) {
      val tag = if (tagged) tagsByStart.getOrElse(words(wi).start, null) else null
      cats(wi) =
        if (tag != null) tag
        else if (taglessExact) resolveCatExact(wNorm(wi), umls)
        else resolveCat(umls.lexOf(wIds(wi)))
      wi += 1
    }

    wi = 0
    while (wi < nw) {
      val t = words(wi)
      // breaking punctuation strictly between previous word and this one?
      val interrupted = lastEnd >= 0 && {
        while (bi < breakArr.length && breakArr(bi) < lastEnd) bi += 1
        val brk = bi < breakArr.length && breakArr(bi) < t.start
        brk || {
          // adjust_for_comma (mincoman.pl:428-443): a comma breaks unless
          // the item before it is an adjective
          while (ci < commaArr.length && commaArr(ci) < lastEnd) ci += 1
          curLastCat != null && curLastCat != "adj" &&
            ci < commaArr.length && commaArr(ci) < t.start
        }
      }
      if (interrupted) flush()
      val w = wNorm(wi)
      val cat = cats(wi)
      cat match {
        case "adj" | "noun" =>
          if (cur.length >= MaxPhraseWords) flush()
          add(PWord(w, t.start, t.end, wIds(wi)), cat)
        case "adv" if taglessExact && w != "not" &&
          !(wi + 1 < nw && Set("verb", "aux", "modal").contains(cats(wi + 1))) =>
          // exact mode: adverbs are "labelled as such", NOT boundaries
          // ("The only adverb marking boundary is 'not'") — they join the
          // phrase as non-head words. Exception (adjust_boundaries,
          // mincoman.pl:461-469): an adv immediately before a verb/aux/
          // modal boundary takes that boundary itself ("positively
          // regulates" brackets apart from "the receptor").
          if (cur.length >= MaxPhraseWords) flush()
          add(PWord(w, t.start, t.end, wIds(wi)), "adv")
        case "pastpart" if taglessExact =>
          // boundary(pastpart(...)): the past participle OPENS a new MSU
          // and joins it as an adj-labelled modifier (convert tags all
          // potential pp's as adj, mincoman.pl:215-220; mark_boundaries
          // then makes the adj-with-verb-tag a boundary, :346-349)
          flush()
          add(PWord(w, t.start, t.end, wIds(wi)), "adj")
        case _ =>
          flush()
      }
      lastEnd = t.end
      wi += 1
    }
    flush()

    // composite gluing: NP + "of" + NP (keep first head). Detect via the
    // original token stream: the run of tokens between the two phrases
    // must be exactly the word "of".
    val glued = Vector.newBuilder[Phrase]
    val wordSeq = words
    val wordStarts = new Array[Int](nw)
    wi = 0
    while (wi < nw) { wordStarts(wi) = words(wi).start; wi += 1 }
    // the first position in ascending `a` holding a value >= x
    def lowerBound(a: Array[Int], x: Int): Int = {
      var lo = 0
      var hi = a.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (a(mid) < x) lo = mid + 1 else hi = mid
      }
      lo
    }
    def onlyOfBetween(a: Phrase, b: Phrase): Boolean = {
      // words are ordered by position: walk the slice between a's last
      // word and b's first word directly (was a full-array filter per
      // adjacent phrase pair — quadratic on phrase-dense sentences)
      val lo = a.words.last.end
      val hi = b.words.head.start
      var k = lowerBound(wordStarts, lo)
      if (k >= wordSeq.length || wordSeq(k).end > hi || wordSeq(k).lc != "of")
        return false
      k += 1
      while (k < wordSeq.length && wordSeq(k).end <= hi) {
        if (!umls.lexCats.getOrElse(wordSeq(k).lc, Set.empty).contains("det"))
          return false
        k += 1
      }
      val p = lowerBound(breakArr, lo)
      !(p < breakArr.length && breakArr(p) < hi)
    }
    var i = 0
    while (i < phrases.length) {
      var p = phrases(i)
      var j = i + 1
      // caps: the -Q N composite_phrases limit (max N prep phrases
      // glommed onto the initial NP, reference default 4, 0 = no gluing
      // at all — skr.pl:4621-4622) AND the merged-phrase word guard (an
      // "of"-chained tag-soup page must not re-form the giant phrase
      // MaxPhraseWords just split)
      while (j < phrases.length && (j - i) <= maxComposite &&
        onlyOfBetween(p, phrases(j)) &&
        p.words.length + phrases(j).words.length <= 20) {
        p = Phrase(p.words ++ phrases(j).words, p.headIdx)
        j += 1
      }
      glued += p
      i = j
    }
    glued.result()
  }

  private def mergePair(a: Phrase, b: Phrase): Phrase =
    Phrase(a.words ++ b.words, a.words.length + b.headIdx)

  /** Reference-exact composite glom (get_composite_phrases +
    * begins_with_composite_phrase + initial_of_phrases,
    * skr.pl:4619-4718): an initial phrase followed by a prepositional
    * phrase (ANY preposition — "pain ON the left side") followed by zero
    * or more "of"-introduced prepositional phrases collapses into ONE
    * composite phrase. `maxPrep` is the -Q cap on the TOTAL number of
    * glommed prep phrases (the initial prep phrase counts, reference
    * default 4); the composite keeps the FIRST phrase's head and is
    * marked `composite` so the kernel evaluates it under
    * [term_processing, ignore_word_order] (CompositeOptions,
    * skr.pl:4629). Call on phrases chunked WITHOUT of-gluing
    * (maxComposite = 0) — this glom replaces it.
    */
  def compositeGlomExact(phrases: Vector[Phrase], sentToks: Vector[Tok],
      words: Vector[Tok], umls: UmlsTables, maxPrep: Int): Vector[Phrase] = {
    if (maxPrep <= 0 || phrases.length < 2) return phrases
    val breaking: Set[Int] = sentToks.iterator
      .filter(t => t.isPunct && t.text != "'" && t.text != "-")
      .map(_.start).toSet
    // the gap between two phrases introduces a prep phrase when its word
    // tokens are one preposition (optionally followed by determiners)
    // and no phrase-breaking punctuation intervenes (ends_with_punc +
    // is_prep_phrase analogues, skr.pl:4692-4713)
    def gapPrep(a: Phrase, b: Phrase): Option[String] = {
      if (breaking.exists(p => p >= a.words.last.end && p < b.words.head.start))
        None
      else {
        val between = words.filter(t =>
          t.start >= a.words.last.end && t.end <= b.words.head.start)
        if (between.nonEmpty &&
          umls.lexCats.getOrElse(between.head.lc, Set.empty).contains("prep") &&
          between.tail.forall(t =>
            umls.lexCats.getOrElse(t.lc, Set.empty).contains("det")))
          Some(between.head.lc)
        else None
      }
    }
    val out = scala.collection.mutable.ArrayBuffer[Phrase]()
    var i = 0
    while (i < phrases.length) {
      var p = phrases(i)
      var j = i + 1
      var glommed = 0
      // first glommed phrase: ANY preposition; subsequent ones: "of" only
      // (initial_of_phrases)
      while (j < phrases.length && glommed < maxPrep &&
        p.words.length + phrases(j).words.length <= 20 && {
          val prep = gapPrep(p, phrases(j))
          prep.isDefined && (glommed == 0 || prep.contains("of"))
        }) {
        p = Phrase(p.words ++ phrases(j).words, p.headIdx, composite = true)
        glommed += 1
        j += 1
      }
      out += p
      i = j
    }
    out.toVector
  }

  /** P7 --conj (skr.pl:483-672 re-expression): merge consecutive phrases
    * whose separating word tokens are all coordinating conjunctions, so a
    * shared head distributes over the conjuncts ("lung and liver cancer"
    * -> [lung, liver, cancer]: both "lung cancer" and "liver cancer"
    * index strings become matchable with the head involved). Capped at
    * < 21 words (skr.pl:416-419).
    */
  def conjGlue(phrases: Vector[Phrase], sentToks: Vector[Tok],
      words: Vector[Tok], umls: UmlsTables): Vector[Phrase] = {
    // phrase-breaking punctuation blocks the merge, same as composite
    // gluing — "lung and, liver cancer" must NOT merge across the comma
    val breaking: Set[Int] = sentToks.iterator
      .filter(t => t.isPunct && t.text != "'" && t.text != "-")
      .map(_.start).toSet
    def onlyConjBetween(a: Phrase, b: Phrase): Boolean = {
      val between = words.filter(t =>
        t.start >= a.words.last.end && t.end <= b.words.head.start)
      between.nonEmpty &&
        between.forall(t => umls.lexCats.getOrElse(t.lc, Set.empty).contains("conj")) &&
        !breaking.exists(p => p >= a.words.last.end && p < b.words.head.start)
    }
    mergeRuns(phrases, onlyConjBetween, maxWords = 20)
  }

  /** P8 (skr.pl:709-857 re-expression): an AA-definition parenthetical
    * splits its NP into three phrases ("Coronary artery (CA) disease" ->
    * [coronary artery], [ca], [disease]); drop the parenthesized AA
    * phrase and merge its neighbors so the spanned NP links as one
    * phrase. The dropped AA occurrence is the aadef — later occurrences
    * still carry the expansion variant.
    */
  def aaSpanGlue(phrases: Vector[Phrase], sentToks: Vector[Tok],
      aas: Map[String, Vector[String]]): Vector[Phrase] = {
    def isParenAaDef(p: Phrase): Boolean =
      p.words.length == 1 && aas.contains(p.words.head.word) &&
        sentToks.exists(t => t.isPunct && t.text == "(" && t.end <= p.words.head.start &&
          !sentToks.exists(w => !w.isPunct && !w.isWs && w.start >= t.end && w.end <= p.words.head.start)) &&
        sentToks.exists(t => t.isPunct && t.text == ")" && t.start >= p.words.head.end &&
          !sentToks.exists(w => !w.isPunct && !w.isWs && w.start >= p.words.head.end && w.end <= t.start))
    val out = scala.collection.mutable.ArrayBuffer[Phrase]()
    var i = 0
    while (i < phrases.length) {
      if (i + 2 < phrases.length && isParenAaDef(phrases(i + 1)) &&
        phrases(i).words.length + phrases(i + 2).words.length <= 20) {
        out += mergePair(phrases(i), phrases(i + 2))
        i += 3
      } else {
        out += phrases(i)
        i += 1
      }
    }
    out.toVector
  }

  private def mergeRuns(phrases: Vector[Phrase],
      joinable: (Phrase, Phrase) => Boolean, maxWords: Int): Vector[Phrase] = {
    val out = scala.collection.mutable.ArrayBuffer[Phrase]()
    var i = 0
    while (i < phrases.length) {
      var p = phrases(i)
      var j = i + 1
      while (j < phrases.length && joinable(p, phrases(j)) &&
        p.words.length + phrases(j).words.length <= maxWords) {
        p = mergePair(p, phrases(j))
        j += 1
      }
      out += p
      i = j
    }
    out.toVector
  }
}
