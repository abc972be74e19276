package graft.link

import graft.text.Tokenizer
import graft.umls.{UmlsTables, Variant}

/** Variant generator computation + per-phrase gather, re-expressing
  * compute_variant_generators/3 (metamap_variants.pl:201-283) and
  * gather_variants/4 (metamap_variants.pl:1325-1419) over the static-mode
  * broadcast variant table (SURVEY.md §2.5 V4: the reference's
  * db_get_variants static mode, metamap_variants.pl:356-372).
  */
object VariantGather {

  /** Document-local AA dictionary: acronym lc word -> expansion words. */
  type AaDict = Map[String, Vector[String]]

  /** Build the per-phrase variant index: first-variant-word -> vinfos.
    * Ordering inside each bucket preserves insertion sequence (the
    * reference AVL stores values reversed and fetch re-reverses).
    *
    * `tagsByStart` (word start offset -> category) activates V10 tag
    * filtering (filter_variants_by_tags, skr.pl:1912-1987): a tagged
    * single-word generator draws its variants from that category's table
    * only — the reference's "keep only the tagged category's GVC".
    */
  def gather(phrase: Phrase, umls: UmlsTables, aas: AaDict,
      tagsByStart: Map[Int, String] = Map.empty,
      opts: LinkOptions = LinkOptions.default): Map[String, Vector[VInfo]] = {
    // -d swaps in the deriv-free table (exact closure when present, the
    // history-filtered view otherwise — never a silent no-op; wins over
    // -D); --all_derivational_variants swaps in the full-dm.rul table
    val mainTable =
      if (opts.noDerivationalVariants) umls.variantsNoDerivEffective
      else if (opts.allDerivationalVariants && umls.variantsAllDeriv.nonEmpty)
        umls.variantsAllDeriv
      else umls.variants
    val words = phrase.words.map(_.word)
    val n = words.length
    if (n == 0) return Map.empty
    val headPos = (phrase.headIdx + 1, phrase.headIdx + 1)

    // generators, in reference order: per word left-to-right, longest
    // multiword lexicon form first, then shorter, then the word itself
    // (compute_variant_generators_2/3). The broadcast word trie finds all
    // multiword forms starting at i in one walk (longest first) — no
    // per-phrase substring construction.
    val gens = scala.collection.mutable.ArrayBuffer[String]()
    val seen = scala.collection.mutable.Set[String]()
    for (i <- 0 until n) {
      for (len <- umls.multiwordTrie.matchesAt(words, i, minLen = 2)) {
        val mw = words.slice(i, i + len).mkString(" ")
        if (seen.add(mw)) gens += mw
      }
      if (seen.add(words(i))) gens += words(i)
    }

    val buckets = scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[VInfo]]()
    var seq = 0

    def positions(genWords: Vector[String]): Vector[(Int, Int)] = {
      // all_pairs over first/last word positions with the right span
      // (metamap_variants.pl:1469-1520): for a fixed begin the span length
      // pins the end, so one left-to-right scan enumerates the same pairs
      // in the same (ascending-begin) order
      val len = genWords.length
      val first = genWords.head
      val last = genWords.last
      val out = Vector.newBuilder[(Int, Int)]
      var k = 0
      while (k + len <= n) {
        if (words(k) == first && words(k + len - 1) == last) out += ((k + 1, k + len))
        k += 1
      }
      out.result()
    }

    for (gen <- gens) {
      val genWords = Tokenizer.tokenizeMmLc(gen)
      val genPositions = positions(genWords)
      if (genPositions.nonEmpty) {
        // skip variants for closed-class or <=2-char single words
        // (no_variants_word, metamap_variants.pl:309-339), but the word
        // itself still generates (identity variant)
        val isSingle = genWords.length == 1
        val cats = umls.lexCats.getOrElse(gen, Set.empty)
        val noVariants = isSingle &&
          ((cats.nonEmpty && cats.subsetOf(UmlsTables.invariantCats)) || gen.length <= 2)
        val base = Vector(Variant(gen, 0, ""))
        // document-local AA expansion as a level-2 variant (A5 re-expression)
        val aaVars = aas.get(gen).map(exp => Variant(exp.mkString(" "), 2, "a")).toVector
        // split-word expansion (V8, metamap_variants.pl:1421-1454): a fused
        // phrase word matches index strings carrying its two-word form —
        // the two variant words consume two meta positions at ONE phrase
        // position (same letters, so spelling level 0)
        val splitVars = if (isSingle) umls.splitWords.get(gen)
          .map { case (a, b) => Variant(s"$a $b", 0, "p") }.toVector
        else Vector.empty
        // and the reverse: if gen is an expansion's first word we do not
        // add anything — AA occurrences carry the expansion variant.
        // untagged (the pinned default): one variant set per generator —
        // hoisted out of the position loop, the hot path
        // OOV fallback (the reference's static->dynamic switch,
        // metamap_variants.pl:356-364): a single-word generator with NO
        // static entry runs the rule-morphology closure at runtime
        // only alphabetic words >= 3 chars enter the closure: suffix
        // morphology is meaningless for numerics/alphanumerics, and a
        // web corpus floods unique number tokens (one per page id here)
        // that would blow past the closure memo
        def lookupVars(table: Map[String, Vector[Variant]]): Vector[Variant] = {
          val static = table.getOrElse(gen, Vector.empty)
          if (static.nonEmpty) static.filterNot(_.word == gen)
          else if (isSingle && gen.length >= 3 && gen.forall(_.isLetter))
            graft.umls.DynamicVariants.closure(gen, umls,
              allDeriv = opts.allDerivationalVariants,
              noDeriv = opts.noDerivationalVariants)
          else Vector.empty
        }
        val untaggedTableVars =
          if (tagsByStart.nonEmpty) null
          else if (noVariants) Vector.empty[Variant]
          else lookupVars(mainTable)
        val baseV = base.head
        for (pos <- genPositions) {
          // V10: a tagged single-word generator draws from its category's
          // variant table (tag can differ per occurrence position)
          val tableVars = if (untaggedTableVars != null) untaggedTableVars else {
            val catTable =
              if (isSingle)
                tagsByStart.get(phrase.words(pos._1 - 1).start)
                  .flatMap(umls.variantsByCat.get)
              else None
            if (noVariants) Vector.empty
            else catTable match {
              case Some(ct) =>
                val vs = ct.getOrElse(gen, Vector.empty).filterNot(_.word == gen)
                // -d in tagged mode: the per-category tables are built
                // with deriv edges, so drop deriv-path variants here
                if (opts.noDerivationalVariants) vs.filterNot(_.history.contains('d'))
                else vs
              case None => lookupVars(mainTable)
            }
          }
          val involvesHead = pos._1 <= headPos._2 && headPos._1 <= pos._2
          // emission order base / table / aa / split == the former
          // concatenated vector, without materializing the concat; the
          // identity variant reuses genWords, table variants their
          // broadcast-resident tokenization (Variant.mmWords)
          @inline def emit(v: Variant, vWords: Vector[String]): Unit =
            if (vWords.nonEmpty) {
              val vi = VInfo(gen, pos, involvesHead, v.varLevel, vWords, seq)
              seq += 1
              buckets.getOrElseUpdate(vWords.head, scala.collection.mutable.ArrayBuffer.empty) += vi
            }
          emit(baseV, genWords)
          tableVars.foreach(v => emit(v, v.mmWords))
          aaVars.foreach(v => emit(v, v.mmWords))
          splitVars.foreach(v => emit(v, v.mmWords))
        }
      }
    }
    buckets.iterator.map { case (k, v) => k -> v.toVector }.toMap
  }
}
