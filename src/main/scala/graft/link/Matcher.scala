package graft.link

/** The phrase/meta-string aligner, re-expressing compute_phrase_match/10
  * (/root/reference/metamap/metamap_evaluation.pl:566-708) including the
  * full option surface:
  *
  *  - default pinned mode: no overmatches, no concept gaps, word order
  *    enforced (SURVEY.md §7 "Reference modes pinned for parity");
  *  - `-o` allow_overmatches: the last-word guard and the completeness test
  *    are waived — a match that fails to cover meta positions 1 and N is
  *    kept and flagged `isOvermatch` (evaluation.pl:581-585,625-631);
  *  - `-g` allow_concept_gaps: an unmatched meta word may be skipped (the
  *    third aux clause, evaluation.pl:697-710), and a generator whose
  *    position re-intersects already-matched phrase components consumes its
  *    variant words without a matchmap entry (evaluation.pl:663-673);
  *  - `-i` ignore_word_order: a generator beginning before the previous
  *    match's begin no longer terminates the match (evaluation.pl:674-676).
  *
  * MetaWords are consumed left to right; each must begin some variant in
  * the per-phrase variant index whose remaining words literally prefix the
  * remaining MetaWords. Candidate vinfos are tried in index order with the
  * non-intersecting-position preference (get_one_from_avl,
  * evaluation.pl:818-861); the first full success commits (the Prolog cut).
  * A word-order violation terminates the match with the truncated map,
  * which then fails the completeness check — replicated here by returning
  * the truncated map and letting the final check reject (or, with `-o`,
  * flag) it.
  */
object Matcher {

  /** Match outcome: the alignment, head involvement, the overmatch flag
    * (only ever true under allow_overmatches), and the meta word indexes
    * (1-based) left uncovered — input to the involvement score (E7).
    */
  final case class MatchResult(matchMap: Vector[MatchEntry], involvesHead: Boolean,
      isOvermatch: Boolean, extraMetaIdx: Vector[Int])

  /** @return Some(MatchResult) for an accepted match, else None. */
  def matchPhraseOpt(metaWords: Vector[String],
      varIndex: Map[String, Vector[VInfo]],
      headless: Boolean, opts: LinkOptions): Option[MatchResult] =
    Option(matchPhrase(metaWords, varIndex, headless, opts, null))

  /** [[matchPhraseOpt]] with null for no match: the evaluator's per-string
    * call, where most strings fail. `lastWords` (the set of every gathered
    * variant's last word) is per-PHRASE state, so the evaluator builds it
    * once instead of walking the whole variant index per string; null
    * walks the index.
    */
  private[link] def matchPhrase(metaWords: Vector[String],
      varIndex: Map[String, Vector[VInfo]],
      headless: Boolean, opts: LinkOptions,
      lastWords: StrTable): MatchResult = {
    val nMeta = metaWords.length
    if (nMeta == 0 || nMeta > 35) return null
    // guard: last meta word must end some variant (evaluation.pl:581-585),
    // waived under allow_overmatches
    if (!opts.allowOvermatches) {
      val lastOk =
        if (lastWords ne null) lastWords.contains(metaWords.last)
        else varIndex.valuesIterator.exists(_.exists(_.lastWord == metaWords.last))
      if (!lastOk) return null
    }

    // aux recursion state: `pos` = index of the next meta word to consume
    // (1-based into metaWords), `nMeta` counter used for matchmap meta
    // spans — the two desync only in the gaps-intersecting branch, exactly
    // as the reference's (Rest, NMeta) pair does (evaluation.pl:663-673:
    // NewNMeta is NMeta+1 while append consumes ALL the variant's words).
    // Deliberately faithful consequence: under -g the completeness test
    // and extraMetaIdx are computed against the full meta length while
    // matchmap meta spans live in the desynced counter space, identical
    // to the reference's extract_components/NMetaWords mix.
    // intersection against the accumulated matchmap's phrase components,
    // field-direct (no per-call tuple list)
    def intersectsMm(mm: List[MatchEntry], b: Int, e: Int): Boolean = {
      var l = mm
      while (l ne Nil) {
        val h = l.head
        if (h.pBegin <= e && b <= h.pEnd) return true
        l = l.tail
      }
      false
    }

    def aux(pos: Int, metaNo: Int, matchMap: List[MatchEntry], involvesHead: Boolean)
        : Option[(List[MatchEntry], Boolean)] = {
      if (pos > nMeta) return Some((matchMap, involvesHead))
      val first = metaWords(pos - 1)
      val prevBegin = if (matchMap eq Nil) 0 else matchMap.head.pBegin
      val vinfos0 = varIndex.getOrElse(first, Vector.empty)
      // two passes replace the stable partition: non-intersecting
      // generator positions first, then intersecting — same order as the
      // former `nonInt ++ inter`, no per-call vectors
      var pass = 0
      while (pass < 2) {
        var i = 0
        while (i < vinfos0.length) {
          val v = vinfos0(i)
          val vInter = intersectsMm(matchMap, v.genPos._1, v.genPos._2)
          if (vInter == (pass == 1)) {
            val vw = v.words
            def fits: Boolean = (pos - 1 + vw.length <= nMeta) && {
              var k = 1
              while (k < vw.length && metaWords(pos + k - 1) == vw(k)) k += 1
              k == vw.length
            }
            if (vInter) {
              // re-intersecting generator: only legal with concept gaps —
              // consume the variant words, no matchmap entry, meta counter +1
              if (opts.allowConceptGaps && fits) {
                aux(pos + vw.length, metaNo + 1, matchMap, involvesHead) match {
                  case s @ Some(_) => return s
                  case None =>
                }
              }
            } else if (v.genPos._1 < prevBegin && !opts.ignoreWordOrder) {
              // word-order violation: terminate with truncated map — fires on
              // the first non-intersecting vinfo even if its variant words
              // don't fit (the reference checks order before the append)
              return Some((matchMap, involvesHead))
            } else if (fits) {
              val newInvolves = involvesHead || v.involvesHead
              val end = metaNo + vw.length - 1
              val entry = MatchEntry(v.genPos._1, v.genPos._2, metaNo, end, v.varLevel)
              aux(pos + vw.length, end + 1, entry :: matchMap, newInvolves) match {
                case s @ Some(_) => return s // the cut: first success commits
                case None => // backtrack to next vinfo
              }
            }
          }
          i += 1
        }
        pass += 1
      }
      // third clause: skip an unmatchable meta word (evaluation.pl:697-710)
      if (opts.allowOvermatches || opts.allowConceptGaps)
        aux(pos + 1, metaNo + 1, matchMap, involvesHead)
      else None
    }

    aux(1, 1, Nil, headless) match {
      case None => null
      case Some((mm, inv)) =>
        if (mm.isEmpty) null // empty map can never be complete nor kept
        else {
          val matchMap = mm.reverse.toVector
          val bs = new java.util.BitSet(nMeta + 2)
          matchMap.foreach(e => bs.set(e.mBegin, e.mEnd + 1))
          val complete = bs.get(1) && bs.get(nMeta)
          if (complete || opts.allowOvermatches) {
            val extraB = Vector.newBuilder[Int]
            var k = 1
            while (k <= nMeta) { if (!bs.get(k)) extraB += k; k += 1 }
            MatchResult(matchMap, inv, isOvermatch = !complete, extraB.result())
          } else null
        }
    }
  }
}
