package graft.negex

import graft.link.{LinkOptions, Mention}
import graft.text.{Sentence, Tok}
import graft.umls.UmlsTables

/** NegEx re-expression (/root/reference/lib/negex.pl:124-330; trigger
  * inventory lib/negex_triggers.pl).
  *
  * Pre-concept triggers (nega) negate mentions starting within a window
  * after the trigger; post-concept triggers (negb) negate mentions ending
  * within a window before the trigger. Pseudo-negation phrases
  * (pseudoneg) suppress a trigger. Scope is terminated by
  * conjunction-class words. All per-sentence, pure function — broadcast
  * trigger lists, no state.
  *
  * Window semantics: the default is the pinned 6-word fixed window (the
  * round-1 parity mode every golden corpus expectation is derived
  * under). Setting [[LinkOptions.negexUtteranceMaxDist]] /
  * [[LinkOptions.negexConceptMaxDist]] switches to the reference's
  * env-tunable two-distance rule (negex.pl:893-918,
  * NEGEX_UTTERANCE_MAX_DIST / NEGEX_CONCEPT_MAX_DIST, documented
  * reference values 20/10): a negation is ruled out IFF the trigger is
  * more than UtteranceMaxDist tokens from the utterance end AND the
  * trigger↔concept distance exceeds ConceptMaxDist — i.e. near the end
  * of an utterance no window applies at all.
  */
object Negex {

  private val window = 6

  /** The reference's default NegEx semantic-type group
    * (default_negex_semtypes, negex.pl:700-701).
    */
  val defaultSemTypes: Set[String] = Set(
    "acab", "anab", "biof", "cgab", "comd", "dsyn", "emod", "fndg",
    "inpo", "lbtr", "menp", "mobd", "neop", "patf", "phsf", "sosy")

  /** Resolve the semtype gate from the three --negex_st_* options
    * (negex_semtypes, negex.pl:679-698). None = ungated (the pinned
    * default when no option is set, and the reference's `all`/`ALL`
    * escape). Replicates the reference quirk exactly: `set` only
    * matters through the all/ALL check — a set list WITHOUT all is
    * discarded and the add/del result applies instead
    * (NegExSemTypes = NegExSemTypes3 in both branches).
    */
  private[graft] def semTypeGate(opts: LinkOptions): Option[Set[String]] = {
    val any = opts.negexStAdd.nonEmpty || opts.negexStDel.nonEmpty ||
      opts.negexStSet.nonEmpty
    if (!any) return None
    val afterDel = (defaultSemTypes ++ opts.negexStAdd) -- opts.negexStDel
    val set4 = if (opts.negexStSet.nonEmpty) opts.negexStSet else afterDel
    if (set4.contains("all") || set4.contains("ALL")) None
    else Some(afterDel)
  }

  /** One negation for the serialization surface (the reference's
    * final_negation_template rows JSON/XML render as NegType/NegTrigger/
    * NegTriggerPIs/NegConcepts/NegConcPIs): the trigger phrase with its
    * char span and the mentions it negates.
    */
  final case class NegRecord(negType: String, trigger: String,
      start: Int, len: Int, concepts: Vector[Mention])

  /** Mark negated mentions for one sentence.
    * @param sentToks full token stream of the sentence
    * @param mentions mentions located in this sentence (char offsets)
    */
  def mark(sentToks: Vector[Tok], mentions: Vector[Mention], umls: UmlsTables,
      opts: LinkOptions = LinkOptions.default): Vector[Mention] =
    markWithRecords(sentToks, mentions, umls, opts)._1

  /** [[mark]] plus the negation records of the sentence from the same
    * pass, grouped per trigger in trigger order; triggers that negate
    * nothing emit no record, exactly like the reference's template list.
    */
  def markWithRecords(sentToks: Vector[Tok], mentions: Vector[Mention],
      umls: UmlsTables, opts: LinkOptions = LinkOptions.default)
      : (Vector[Mention], Vector[NegRecord]) =
    markWithRecords(Sentence(0, 0, 0, sentToks), mentions, umls, opts)

  /** [[markWithRecords]] of a sentence (only its tokens are read), over
    * its word tokens made once and the ids the tokenizer gave them; a
    * token without one is probed here.
    */
  def markWithRecords(sent: Sentence, mentions: Vector[Mention], umls: UmlsTables,
      opts: LinkOptions): (Vector[Mention], Vector[NegRecord]) =
    if (mentions.isEmpty) (mentions, Vector.empty)
    else {
      val words = sent.words
      val ids = new Array[Int](words.length)
      var i = 0
      while (i < ids.length) {
        val t = words(i)
        ids(i) = if (t.id != Tok.Unresolved) t.id else umls.dict.id(t.lc)
        i += 1
      }
      markWords(words, ids, mentions, umls, opts)
    }

  /** The NegEx pass over a sentence's word tokens and their word ids. */
  private def markWords(words: Vector[Tok], ids: Array[Int], mentions: Vector[Mention],
      umls: UmlsTables, opts: LinkOptions): (Vector[Mention], Vector[NegRecord]) = {
    val nWords = words.length

    // classify the LONGEST trigger phrase at each position across all six
    // classes — one trie probe per class per position regardless of the
    // 285-phrase inventory size. Tie/shadow priority on equal length:
    // pseudo (pnega/pnegb) beats the trigger it shadows; conj terminates.
    // (boundary word idx for the concept-distance test, trigger LAST word
    // idx for the utterance-end anchor — the reference measures the
    // waiver from TriggerLastTokenPos, negex.pl:905-918, so both trigger
    // classes must anchor at the same point)
    // (scope-boundary word idx, trigger LAST word idx, trigger START word
    // idx — the start feeds the serialization records only)
    val preHits = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    val postHits = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    val termStarts = scala.collection.mutable.ArrayBuffer[Int]() // conj word idx
    val trigStarts = scala.collection.mutable.ArrayBuffer[Int]() // any pre/post trigger start
    var i = 0
    while (i < nWords) {
      // one flag test per word id gates the five trie probes: almost no
      // word starts a trigger
      if (!umls.hasFlag(ids(i), UmlsTables.NegexFirst)) i += 1
      else {
        def longest(t: graft.umls.WordTrie): Int = {
          val m = t.matchesAt(ids, i)
          if (m.isEmpty) 0 else m.head
        }
        val pseudoLen = math.max(longest(umls.negexPseudoTrie),
          longest(umls.negexPseudoPostTrie))
        val conjLen = longest(umls.negexConjTrie)
        val preLen = longest(umls.negexPreTrie)
        val postLen = longest(umls.negexPostTrie)
        val best = math.max(math.max(pseudoLen, conjLen), math.max(preLen, postLen))
        if (best == 0) i += 1
        else if (pseudoLen == best) i += pseudoLen // suppressed: no negation
        else if (conjLen == best) { termStarts += i; i += conjLen }
        else if (postLen == best) {
          postHits += ((i, i + postLen - 1, i))
          trigStarts += i
          i += postLen
        } else {
          preHits += ((i + preLen, i + preLen - 1, i))
          trigStarts += i
          i += preLen
        }
      }
    }

    // no trigger: nothing is negated and no record is made
    if (preHits.isEmpty && postHits.isEmpty) return (mentions, Vector.empty)

    def wordIdxOfChar(pos: Int): Int = {
      val idx = words.indexWhere(w => w.end > pos)
      if (idx < 0) words.length else idx
    }

    def terminatorBetween(a: Int, b: Int): Boolean =
      termStarts.exists(k => k >= a && k < b)

    // intervening_negation_trigger (negex.pl:936-951, the second
    // disjunct of spurious_negterm): in reference mode a negation is
    // ALSO spurious when ANOTHER negation trigger phrase starts strictly
    // between this trigger and the concept — applies to the env-tunable
    // spurious-removal path only (the pinned window mode has no such
    // rule)
    def interveningTrigger(a: Int, b: Int): Boolean =
      trigStarts.exists(k => k > a && k < b)

    // reference two-distance rule (negex.pl:893-918): within
    // utteranceMaxDist of the utterance end the window is waived; beyond
    // it, conceptMaxDist binds. Both set -> reference mode; neither ->
    // the pinned fixed window.
    val refMode = opts.negexUtteranceMaxDist.isDefined ||
      opts.negexConceptMaxDist.isDefined
    val uttMax = opts.negexUtteranceMaxDist.getOrElse(20)
    val conceptMax = opts.negexConceptMaxDist.getOrElse(10)
    // triggerLastW anchors the utterance-end waiver for BOTH classes
    // (TriggerLastTokenPos, negex.pl:905-918)
    def inWindow(triggerLastW: Int, dist: Int): Boolean =
      if (!refMode) dist <= window
      else (nWords - 1 - triggerLastW) <= uttMax || dist <= conceptMax

    // semtype gating (negex.pl:667-676): a mention whose semtypes are
    // disjoint from the gate set is never negated; engaged only when a
    // --negex_st_* option is given (the pinned default is ungated)
    val stGate = semTypeGate(opts)

    // per-trigger concept accumulation for the serialization records:
    // keyed (negType, hit index) so record order follows trigger order
    val byTrigger = scala.collection.mutable.LinkedHashMap[(String, Int), Vector[Mention]]()
    val marked = mentions.map { m =>
      if (stGate.exists(g => !m.semTypes.exists(g))) m
      else {
      val mStartW = wordIdxOfChar(m.start)
      val mEndW = wordIdxOfChar(m.start + m.len - 1)
      // distance basis differs by mode: the pinned default counts the
      // word GAP between trigger and concept (excludes the trigger),
      // while reference mode uses abs(ConceptTokenPos -
      // TriggerLastTokenPos) over the token list (negex.pl:925-933) —
      // i.e. measured from the trigger's LAST word, one larger on the
      // pre side than the gap.
      val preIdx = preHits.indexWhere { case (wIdx, lastW, _) =>
        val dist = if (refMode) mStartW - lastW else mStartW - wIdx
        mStartW >= wIdx && inWindow(lastW, dist) &&
          !terminatorBetween(wIdx, mStartW) &&
          !(refMode && interveningTrigger(lastW, mStartW))
      }
      val postIdx = postHits.indexWhere { case (wIdx, lastW, _) =>
        // reference basis: ConceptTokenPos comes from the concept's
        // START char (charpos_to_tokenindex over CharStart,
        // negex.pl:901-902,931-932), so the post distance runs from the
        // mention's FIRST word to the trigger's last word
        val dist = if (refMode) lastW - mStartW else wIdx - mEndW
        mEndW < wIdx && inWindow(lastW, dist) &&
          !terminatorBetween(mEndW + 1, wIdx) &&
          !(refMode && interveningTrigger(mStartW, wIdx))
      }
      if (preIdx < 0 && postIdx < 0) m
      else {
        val neg = m.copy(negated = true)
        if (preIdx >= 0)
          byTrigger((("nega", preIdx))) =
            byTrigger.getOrElse(("nega", preIdx), Vector.empty) :+ neg
        if (postIdx >= 0)
          byTrigger((("negb", postIdx))) =
            byTrigger.getOrElse(("negb", postIdx), Vector.empty) :+ neg
        neg
      }
      }
    }
    val records = byTrigger.toVector.map { case ((negType, idx), ms) =>
      val (_, lastW, startW) = if (negType == "nega") preHits(idx) else postHits(idx)
      val start = words(startW).start
      val end = words(lastW).end
      NegRecord(negType, (startW to lastW).map(words(_).lc).mkString(" "),
        start, end - start, ms)
    }
    (marked, records)
  }
}
