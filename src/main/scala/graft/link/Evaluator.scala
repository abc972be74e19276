package graft.link

import graft.umls.{IndexEntry, UmlsTables}

/** Per-phrase candidate retrieval, evaluation, filtering and mapping
  * construction (SURVEY.md §2.6-§2.10).
  */
object Evaluator {

  /** Candidate retrieval (add_candidates/9, metamap_candidates.pl:107-205):
    * probe the broadcast first-word index with every variant first word,
    * post-filter retrieved strings whose normalized words must contain the
    * variant words as a prefix (word_index.pl:104-150), then evaluate each
    * distinct string once (CC-cache analogue).
    */
  def evaluatePhrase(phrase: Phrase, umls: UmlsTables,
      varIndex: VariantIndex,
      opts: LinkOptions = LinkOptions.default): Vector[Candidate] = {
    val nPhrase = phrase.words.length
    if (nPhrase == 0) return Vector.empty

    // the (cui, str) pairs evaluated
    val seenStrings = new StringPairSet
    val out = Vector.newBuilder[Candidate]
    var nOut = 0

    // deterministic probe order: vinfo sequence order, which the index
    // holds its vinfos in; each is probed under its first word, its key
    val probeInfos = varIndex.inSeqOrder

    // last words of all gathered variants, for first_wordsb routing
    // (word_is_last_word_of_some_variant, metamap_candidates.pl:381-387)
    // and the matcher's last-meta-word guard — built once per phrase, on
    // first use (a phrase whose probes find no entries needs none)
    var lastWordTable: StrTable = null
    def lastVariantWords: StrTable = {
      if (lastWordTable == null) {
        lastWordTable = new StrTable
        probeInfos.foreach(v => lastWordTable.add(v.lastWord))
      }
      lastWordTable
    }
    val isLastWord: String => Boolean = w => lastVariantWords.contains(w)

    // per key: its word id (from gathering, else one dictionary probe),
    // and the tables already probed with it as bits — the reference
    // probes once per (word, table)
    val dict = umls.dict
    val nKeys = varIndex.size
    val keyIds = new Array[Int](nKeys)
    var k = 0
    while (k < nKeys) {
      val id = varIndex.keyId(k)
      keyIds(k) = if (id != graft.text.Tok.Unresolved) id else dict.id(varIndex.keyAt(k))
      k += 1
    }
    val probed = new Array[Int](nKeys)

    // stop phrases (add_candidates, metamap_candidates.pl:138-143): in
    // overmatch mode, a generator that is a stop phrase under one of its
    // lexical categories produces no candidates — the reference's guard
    // against -o exploding on common non-medical phrases (the real table
    // holds 1,825 rows; see MiniUmls.stopPhrases)
    def stopPhraseBlocked(gen: String): Boolean =
      opts.allowOvermatches && umls.stopPhrases.get(gen).exists(cats =>
        cats.exists(umls.lexCats.getOrElse(gen, Set.empty)))

    // the FIRST generator of a phrase is exempt from the stop-variant
    // frequency skip ("If it's the first candidate, don't check for stop
    // words" — extract_simple_variants_aux CandidateCount=:=1 branch,
    // metamap_candidates.pl:180-186): a phrase STARTING with a frequent
    // short token (e.g. "ca 125") must still probe it, or strings keyed
    // under that first word are unreachable
    val firstGen: String = if (probeInfos.isEmpty) "" else probeInfos(0).genWord

    // probe once per (word, table): narrower tables are retrieval
    // optimizations — the union of per-variant retrievals is evaluated,
    // exactly as the reference's per-variant get_meta_uscs with its USC
    // cache keyed on (word, table). The stop-variant rule
    // (metamap_candidates.pl:189-205 + stop_variant, :191-205) skips
    // probes for closed-class stop words and very short very frequent
    // words: one flag per word id.
    var pi = 0
    while (pi < probeInfos.length) {
      val vi = probeInfos(pi)
      val key = varIndex.keyOf(pi)
      val id = keyIds(key)
      if ((vi.genWord == firstGen || !umls.hasFlag(id, UmlsTables.ProbeSkip)) &&
        !stopPhraseBlocked(vi.genWord)) {
        val table = tableFor(vi, id, nPhrase, isLastWord, umls, opts)
        if ((probed(key) & (1 << table)) == 0) {
          probed(key) |= 1 << table
          val entries = tableEntries(table, id, vi.words.head, umls)
          var ei = 0
          while (ei < entries.length) {
            val e = entries(ei)
            if (seenStrings.add(e.cui, e.str)) {
              val c = evaluateOne(e, phrase, nPhrase, umls, varIndex, opts, lastVariantWords)
              if (c != null) { out += c; nOut += 1 }
            }
            ei += 1
          }
        }
      }
      pi += 1
    }

    if (nOut == 0) Vector.empty else filterRedundant(out.result())
  }

  /** F2 redundancy filter (filter_out_redundant_evaluations,
    * skr.pl:4461-4516): the list is re-sorted CUI-PosScore-Candidate
    * (CUI groups, ASCENDING positive score within a group), and an
    * entry is dropped when a LATER same-CUI entry has an EQUIVALENT
    * CONSOLIDATED phrase-component set (matchmaps_are_equivalent ->
    * linearize + sort, skr.pl:4590-4601) — so the survivor of each
    * equivalence class is the best-scoring member (largest term on
    * score ties), and the key is covered POSITIONS, not the raw
    * matchmap row list ([1,2] and [1,1],[2,2] are equivalent).
    * NOTE: G2 pruning does NOT happen here — the reference filters
    * first (filter_evaluations, skr.pl:913,1408) and prunes inside
    * mapping construction (skr.pl:3452-3459); DocKernel applies
    * Pruning.prune AFTER the option filters.
    */
  private[graft] def filterRedundant(cands: Vector[Candidate]): Vector[Candidate] =
    if (cands.length <= 1) cands
    else {
      val byCui = cands.toArray
      // stable sorts, as sortBy's
      java.util.Arrays.sort(byCui, cuiScoreStr)
      val comps = byCui.map(coveredPositions)
      val kept = Array.newBuilder[Candidate]
      var i = 0
      while (i < byCui.length) {
        var j = i + 1
        while (j < byCui.length &&
          !(byCui(j).cui == byCui(i).cui && java.util.Arrays.equals(comps(j), comps(i)))) j += 1
        if (j == byCui.length) kept += byCui(i)
        i += 1
      }
      // final order: the reference re-sorts to standard ev-term order =
      // (negscore, cui, metaterm) — skr.pl:4479 + :1407
      val k = kept.result()
      java.util.Arrays.sort(k, negScoreCuiStr)
      k.toVector
    }

  private val cuiScoreStr: java.util.Comparator[Candidate] = (a, b) => {
    val c = a.cui.compareTo(b.cui)
    if (c != 0) c
    else {
      val d = Integer.compare(a.score, b.score)
      if (d != 0) d else a.str.compareTo(b.str)
    }
  }

  private val negScoreCuiStr: java.util.Comparator[Candidate] = (a, b) => {
    val d = Integer.compare(-a.score, -b.score)
    if (d != 0) d
    else {
      val c = a.cui.compareTo(b.cui)
      if (c != 0) c else a.str.compareTo(b.str)
    }
  }

  /** The consolidated phrase components of a candidate: its covered
    * phrase positions, ascending and distinct.
    */
  private def coveredPositions(c: Candidate): Array[Int] = {
    val bits = new java.util.BitSet()
    c.matchMap.foreach(e => bits.set(e.pBegin, e.pEnd + 1))
    bits.stream().toArray
  }

  /** The entries of word `w` (dictionary id `id`) in the index table at
    * [[tableFor]]'s position: all_words by string, the others by id.
    */
  private def tableEntries(t: Int, id: Int, w: String, umls: UmlsTables)
      : Vector[IndexEntry] =
    if (t == 0) umls.allWordIndex.getOrElse(w, Vector.empty)
    else umls.firstWordIndex.table(t, id)

  /** C2 full index selection (determine_table + get_meta_uscs_2,
    * metamap_candidates.pl:298-330; determine_first_word_index,
    * :371-387). `avail` = the variant's word count plus the phrase words
    * right of the generator: the maximum meta-string length that could
    * still match without overmatching, so the of_one/of_two probes are
    * provably lossless in word-order mode (a longer string's later meta
    * words would have no phrase words left to match, and the last-word
    * guard rejects incomplete matches). The first_wordsb route drops
    * frequent-pair strings <w1>...<w2> unless some gathered variant ends
    * with w2 — the only way those entries could complete a match.
    * The table is returned as a position: 0 all_words, 1 of_one, 2 of_two,
    * 3 first_words, 4 first_wordsb.
    */
  private[graft] def tableFor(vi: VInfo, nPhrase: Int,
      lastVariantWords: String => Boolean, umls: UmlsTables, opts: LinkOptions): Int =
    tableFor(vi, umls.dict.id(vi.words.head), nPhrase, lastVariantWords, umls, opts)

  /** [[tableFor]] of a vinfo whose first word has dictionary id `id`. */
  private def tableFor(vi: VInfo, id: Int, nPhrase: Int,
      lastVariantWords: String => Boolean, umls: UmlsTables, opts: LinkOptions): Int = {
    def firstWordsOrB: Int =
      if (umls.hasFlag(id, UmlsTables.HotFirst) &&
        umls.frequentFirstWordPairs(vi.words.head).exists(lastVariantWords)) 3
      else 4
    val avail = vi.words.length + (nPhrase - vi.genPos._2)
    if (opts.allowOvermatches) 0
    else if (avail == 1 && !opts.ignoreWordOrder) 1
    else if (opts.allowConceptGaps || opts.ignoreWordOrder) firstWordsOrB
    else if (avail == 2) 2
    else firstWordsOrB
  }

  private def evaluateOne(e: IndexEntry, phrase: Phrase, nPhrase: Int,
      umls: UmlsTables, varIndex: Map[String, Vector[VInfo]],
      opts: LinkOptions, lastWords: StrTable): Candidate = {
    val metaWords = e.nmWords
    val headless = false // chunker always assigns a head
    val r = Matcher.matchPhrase(metaWords, varIndex, headless, opts, lastWords)
    if (r == null) null
    else {
      val mm = r.matchMap
      // covered phrase positions (1-based) as one bit pass; phrase
      // positions are bounded by nPhrase
      val covered = new java.util.BitSet(nPhrase + 2)
      mm.foreach(me => covered.set(me.pBegin, me.pEnd + 1))
      // --min_length (E11, evaluation.pl:381-398): total char length of
      // matched phrase words incl. separating spaces
      var matchedLen = -1
      var ci = covered.nextSetBit(0)
      while (ci >= 0) {
        matchedLen += phrase.words(ci - 1).word.length + 1
        ci = covered.nextSetBit(ci + 1)
      }
      if (matchedLen < opts.minLength) null
      else {
        // relevant extras (filter_by_variants, evaluation.pl:1159-1166):
        // uncovered meta words that key into the phrase's variant index
        val nRelevantExtra =
          r.extraMetaIdx.count(i => varIndex.contains(metaWords(i - 1)))
        val score = Scorer.scoreOpt(mm, nPhrase, metaWords.length,
          r.involvesHead, opts, nRelevantExtra)
        // pos info (E10, collapse_pos_info): one char span per contiguous
        // run of covered phrase words, plus the overall extent
        val posInfoB = Vector.newBuilder[(Int, Int)]
        var extentLo = Int.MaxValue
        var extentHi = Int.MinValue
        var runStart = covered.nextSetBit(0)
        while (runStart >= 0) {
          var runEnd = runStart
          while (covered.get(runEnd + 1)) runEnd += 1
          val s = phrase.words(runStart - 1).start
          val e2 = phrase.words(runEnd - 1).end
          posInfoB += ((s, e2 - s))
          if (s < extentLo) extentLo = s
          if (e2 > extentHi) extentHi = e2
          runStart = covered.nextSetBit(runEnd + 1)
        }
        Candidate(score, e.cui, e.str, e.concept, metaWords,
          umls.cuiSemTypes.getOrElse(e.cui, Vector.empty), mm, r.involvesHead,
          extentLo, extentHi, posInfoB.result(),
          umls.cuiSources.getOrElse(e.cui, Vector.empty))
      }
    }
  }

  /** The (cui, str) pairs evaluated for one phrase: open addressing over
    * the two strings' cached hash codes, no tuple per entry.
    */
  private final class StringPairSet {
    private[this] var as = new Array[String](16)
    private[this] var bs = new Array[String](16)
    private[this] var n = 0
    private def slot(a: String, b: String, mask: Int): Int = {
      var h = a.hashCode * 31 + b.hashCode
      h ^= h >>> 16
      h * 0x85ebca6b & mask
    }
    def add(a: String, b: String): Boolean = {
      val mask = as.length - 1
      var j = slot(a, b, mask)
      while (as(j) != null) {
        if (as(j).equals(a) && bs(j).equals(b)) return false
        j = (j + 1) & mask
      }
      as(j) = a
      bs(j) = b
      n += 1
      if (2 * n > as.length) grow()
      true
    }
    private def grow(): Unit = {
      val oa = as
      val ob = bs
      as = new Array[String](oa.length * 2)
      bs = new Array[String](oa.length * 2)
      val mask = as.length - 1
      var i = 0
      while (i < oa.length) {
        if (oa(i) != null) {
          var j = slot(oa(i), ob(i), mask)
          while (as(j) != null) j = (j + 1) & mask
          as(j) = oa(i)
          bs(j) = ob(i)
        }
        i += 1
      }
    }
  }

  /** Candidates interact per aevaluations_interact (skr.pl:3719-3731),
    * entirely in PHRASE-position space: (1) components intersect; (2)
    * component spans overlap STAGGERED-only (spans_overlap,
    * skr.pl:3791-3800 — pure containment is NOT an overlap there); (3)
    * one span properly inside the other AND the outer candidate's
    * components intersect the inner span (is_proper_subspan +
    * component_intersects_components, skr.pl:3815-3822) — so a
    * discontiguous candidate whose char extent covers another but whose
    * matched words are disjoint from it does NOT interact, and both can
    * join one mapping (the gap-filling case).
    */
  def interacts(a: Candidate, b: Candidate): Boolean = {
    // allocation-free: this runs inside the mapping-enumeration inner loop
    val am = a.matchMap
    val bm = b.matchMap
    var i = 0
    while (i < am.length) {
      val p = am(i)
      var j = 0
      while (j < bm.length) {
        val q = bm(j)
        if (p.pBegin <= q.pEnd && q.pBegin <= p.pEnd) return true
        j += 1
      }
      i += 1
    }
    // component span = first low .. last high (compute_component_span)
    var aL = Int.MaxValue; var aH = Int.MinValue
    i = 0
    while (i < am.length) {
      val e = am(i)
      if (e.pBegin < aL) aL = e.pBegin
      if (e.pEnd > aH) aH = e.pEnd
      i += 1
    }
    var bL = Int.MaxValue; var bH = Int.MinValue
    i = 0
    while (i < bm.length) {
      val e = bm(i)
      if (e.pBegin < bL) bL = e.pBegin
      if (e.pEnd > bH) bH = e.pEnd
      i += 1
    }
    val staggered = (aL <= bL && bL <= aH && aH <= bH) ||
      (bL <= aL && aL <= bH && bH <= aH)
    if (staggered) return true
    @inline def properSub(l1: Int, h1: Int, l2: Int, h2: Int) = l2 < l1 && h1 < h2
    @inline def compHits(mm: Vector[MatchEntry], l: Int, h: Int): Boolean = {
      var k = 0
      while (k < mm.length) {
        val e = mm(k)
        if (e.pBegin <= h && l <= e.pEnd) return true
        k += 1
      }
      false
    }
    (properSub(bL, bH, aL, aH) && compHits(am, bL, bH)) ||
      (properSub(aL, aH, bL, bH) && compHits(bm, aL, aH))
  }

  /** F3 subsumed-evaluation filter (filter_out_subsumed_evaluations,
    * skr/skr.pl:4520-4575): a candidate is subsumed — and dropped before
    * mapping construction — when another candidate scores STRICTLY better
    * with equivalent matchmap phrase involvement
    * (matchmaps_are_equivalent, skr.pl:4583-4597: the consolidated
    * covered phrase positions compare equal). Skipped under -b
    * compute_all_mappings and -o allow_overmatches exactly like the
    * reference (filter_evaluations_by_subsumption, skr.pl:1312-1318).
    * Best-mapping OUTPUT is unchanged by construction (a strictly worse
    * candidate with identical coverage can never improve a mapping), but
    * the filter runs BEFORE pruning in the reference, so the candidate
    * count the adaptive pruner sees — and the MMO Excluded count — must
    * come from this stage.
    */
  def filterSubsumed(cands: Vector[Candidate],
      opts: LinkOptions = LinkOptions.default): Vector[Candidate] =
    if (opts.computeAllMappings || opts.allowOvermatches || cands.length <= 1) cands
    else {
      // consolidated phrase components: the sorted covered positions
      val comps = cands.map(c =>
        c.matchMap.flatMap(e => e.pBegin to e.pEnd).distinct.sorted)
      val bestByComp = comps.zip(cands.map(_.score))
        .groupMapReduce(_._1)(_._2)(math.max)
      cands.indices.iterator
        .filter(i => cands(i).score >= bestByComp(comps(i)))
        .map(cands).toVector
    }

  /** Mapping construction (M2-M4): enumerate maximal sets of pairwise
    * non-interacting candidates, score each by the concatenated-matchmap
    * rescoring (skr.pl:3695-3718), keep all best-score mappings
    * (best-mappings-only default), and return the union of their
    * candidates (WSD window-dedup later picks one CUI per span).
    * Falls back to a greedy cover when the candidate count would make
    * enumeration explode (the reference prunes to ~30 first; we cap the
    * exact search at 16).
    */
  def bestMappingCandidates(cands: Vector[Candidate], nPhrase: Int,
      opts: LinkOptions = LinkOptions.default,
      varIndexWords: Set[String] = Set.empty): Vector[Candidate] =
    if (cands.length <= 1) cands // its own one mapping
    else bestMappings(cands, nPhrase, opts, varIndexWords).flatMap(_._2)
      .distinctBy(c => (c.cui, c.start, c.end))

  /** The kept mappings themselves, (score, candidates) per mapping —
    * the structure the MMO machine-output writer prints as
    * map(NegScore,[ev...]) terms (skr.pl:946-959). bestMappingCandidates
    * is the flattened union of these.
    */
  def bestMappings(cands: Vector[Candidate], nPhrase: Int,
      opts: LinkOptions = LinkOptions.default,
      varIndexWords: Set[String] = Set.empty): Vector[(Int, Vector[Candidate])] = {
    if (cands.isEmpty) return Vector.empty
    if (cands.length == 1) return Vector.empty :+ ((cands.head.score, cands))

    def mappingScore(m: Vector[Candidate]): Int = {
      if (opts.conjMerge) {
        // conj mode (W2/M3, skr.pl:4290-4297,4327-4339): plain average of
        // candidate scores, floor on the negated value
        val sum = m.map(c => -c.score.toLong).sum
        return -math.floor(sum.toDouble / m.length).toInt
      }
      // default mode (compute_conf_val_aux(0,...), skr.pl:4300-4323):
      // concatenate matchmaps with renumbered meta spans
      // (modify_matchmap_for_concatenation), sort rows, score with
      // MetaCCs = the candidates' term lengths
      val ordered = m.sortBy(c => (c.matchMap.map(_.pBegin).min, c.cui))
      var offset = 0
      val mm = scala.collection.mutable.ArrayBuffer[MatchEntry]()
      var nMeta = 0
      var involves = false
      for (c <- ordered) {
        val cMeta = c.metaWords.length
        c.matchMap.foreach(e =>
          mm += MatchEntry(e.pBegin, e.pEnd, e.mBegin + offset, e.mEnd + offset, e.varLevel))
        offset += cMeta
        nMeta += cMeta
        involves ||= c.involvesHead
      }
      val sorted = mm.toVector.sortBy(e => (e.pBegin, e.pEnd, e.mBegin, e.mEnd, e.varLevel))
      val pCCs = Scorer.connectedComponents(sorted.map(e => (e.pBegin, e.pEnd)))
      val termLengths = ordered.map(_.metaWords.length)
      val cen = Scorer.centrality(involves)
      val vr = Scorer.variation(sorted)
      // the mapping rescore reuses compute_match_value (compute_conf_val
      // _aux(0,...) -> skr.pl:4320-4322), so the SAME option substitutions
      // apply as per-candidate: -i replaces coverage with involvement
      // (over the mapping's gleaned relevant extra meta words,
      // skr.pl:4390-4392), -Y inverts cohesiveness
      // (metamap_evaluation.pl:945-951, 1085-1100)
      val covOrInv =
        if (!opts.ignoreWordOrder) Scorer.coverage(sorted, nPhrase, nMeta)
        else {
          val extra = ordered.iterator.map { c =>
            val covered = c.matchMap.flatMap(e => e.mBegin to e.mEnd).toSet
            (1 to c.metaWords.length).count(k =>
              !covered(k) && varIndexWords.contains(c.metaWords(k - 1)))
          }.sum
          Scorer.involvement(sorted, nPhrase, nMeta, extra)
        }
      val coh0 = Scorer.cohesivenessFromCCs(pCCs, termLengths, nPhrase, nMeta)
      val coh = if (opts.preferMultiple) 1.0 - coh0 else coh0
      Scorer.combine(cen, vr, covOrInv, coh)
    }

    // expansion runs on duplicate-set REPRESENTATIVES: candidates with the
    // same score and the same merged phrase components are interchangeable
    // in a mapping (remove_duplicate_aevs, skr.pl:2732-2744 +
    // find_duplicate_aevs_aux, :3255-3262), so the reference enumerates
    // over AEvaluationsNoDups and folds duplicates back in afterward. This
    // is what keeps exact enumeration tractable up to the grid-test limit
    // of 44 deduped candidates (G3) without the round-1 hard cap of 16.
    // (Insertion-ordered grouping + an identity map: this runs per phrase
    // on the hot path, and hashing full Candidate case classes — deep
    // vectors — measurably slows the kernel.)
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Vector[(Int, Int)]), scala.collection.mutable.ArrayBuffer[Candidate]]
    for (c <- cands)
      groups.getOrElseUpdate((c.score, Pruning.mergedComponents(c)),
        scala.collection.mutable.ArrayBuffer.empty[Candidate]) += c
    val hasDups = groups.size != cands.length
    val reps: Vector[Candidate] =
      if (!hasDups) cands else groups.valuesIterator.map(_.head).toVector
    val groupOfRep = new java.util.IdentityHashMap[Candidate, Vector[Candidate]]
    if (hasDups) groups.valuesIterator.foreach(g => groupOfRep.put(g.head, g.toVector))

    val maximalSets: Vector[Vector[Candidate]] = {
      // exact enumeration of maximal consistent sets (expand_aevs,
      // skr.pl:3618-3663), gated upstream by the grid test; a step budget
      // guards adversarial dense phrases (observable via budgetExceeded —
      // the reference has no such guard and simply stalls there)
      var steps = 0L
      var aborted = false
      val sets = scala.collection.mutable.ArrayBuffer[Vector[Candidate]]()
      def extend(chosen: Vector[Candidate], rest: Vector[Candidate]): Unit = {
        if (aborted) return
        steps += 1
        if (steps > EnumStepBudget) { aborted = true; return }
        val compatible = rest.filter(r => chosen.forall(c => !interacts(c, r)))
        if (compatible.isEmpty) { if (chosen.nonEmpty) sets += chosen }
        else compatible.zipWithIndex.foreach { case (r, i) =>
          extend(chosen :+ r, compatible.drop(i + 1))
        }
      }
      extend(Vector.empty, reps)
      if (!aborted) sets.toVector
      else {
        val n = budgetExceeded.incrementAndGet()
        if (n <= 10) System.err.println(
          s"[graft] mapping enumeration budget exceeded on ${reps.length} " +
            "candidates; falling back to greedy cover")
        // greedy: take by score, skip interacting (deterministic fallback)
        val chosen = scala.collection.mutable.ArrayBuffer[Candidate]()
        reps.foreach(c => if (chosen.forall(!interacts(_, c))) chosen += c)
        Vector(chosen.toVector)
      }
    }

    if (maximalSets.isEmpty) return Vector.empty
    val scored = maximalSets.map(m => (mappingScore(m), m))
    val best = scored.map(_._1).max
    // -b compute_all_mappings keeps every maximal mapping (skr.pl:3554-3603);
    // default keeps best-score only. Subsumption (M5) is moot among
    // maximal sets; each representative expands back to its full
    // duplicate set within its mapping.
    val kept = if (opts.computeAllMappings) scored else scored.filter(_._1 == best)
    kept.map { case (s, m) =>
      (s, if (!hasDups) m else m.flatMap(groupOfRep.get(_)))
    }
  }

  /** Backtracking-step budget for exact mapping enumeration; far above any
    * prose phrase's cost, a stall guard for adversarial web pages.
    */
  val EnumStepBudget: Long = 200000L

  /** How many phrases fell back to the greedy cover (JVM-wide, observable). */
  val budgetExceeded = new java.util.concurrent.atomic.AtomicLong
}
