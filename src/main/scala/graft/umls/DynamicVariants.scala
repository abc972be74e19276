package graft.umls

/** Runtime variant closure for OOV generators — the reference's dynamic
  * variant-generation mode (metamap_variants.pl:375-446), entered exactly
  * like the reference enters it: static mode falls back to dynamic when
  * db_get_variants returns nothing for a generator
  * (augment_GVCs_with_variants_mode(static,...), metamap_variants.pl:
  * 356-364).
  *
  * The dynamic grammar is the SAME 19-stage composition automaton the
  * static closure implements ([[VariantClosure]]); every stage starts
  * from the generator's LEXICAL RECORDS (get_spid_variants resolves the
  * form to records, then computes spellings/inflections/derivations of
  * those records — metamap_variants.pl:796-860). A form and its base
  * therefore share one composed variant set: derivations of an inflected
  * generator are computed from the record's base form, so "asthmatics"
  * reaches "asthma" with history "d" at level 3, never "id" at 4.
  *
  * For a word with no static table entry the fact tables hold no record —
  * the static table's key set covers every fact-table word. The honest
  * re-expression of record resolution is ONE rule-morphology hop
  * (lm.rules, either direction) to a static-table word: that word's
  * record is the record the OOV inflection belongs to. The OOV form then
  * adopts the resolved word's precomputed variant set at its own levels
  * (record resolution is not a composition step and costs nothing) plus
  * the resolved word itself as an inflection-family member (level 1,
  * history "i" — get_spellings_and_inflections_for_form returns the whole
  * family in one step). No deeper rule walk exists in the reference:
  * every composition stage consumes records, and an unresolvable string
  * has none, so a no-base OOV word gets only its identity variant.
  *
  * Memoized per TABLE instance with a bounded map (the reference
  * memoizes per invocation) — the memo lives on UmlsTables itself
  * because the closure's results depend on that table's contents; at
  * the cap new words compute without caching — bounded memory,
  * identical results.
  */
object DynamicVariants {

  private val MemoCap = 1 << 16

  /** allDeriv mirrors --all_derivational_variants through the DYNAMIC
    * path too: table merges draw from the all-deriv static table, so an
    * OOV form reaches exactly the variants an in-table word would under
    * the same flag. noDeriv mirrors -d no_derivational_variants (merges
    * draw from the deriv-free closure table; wins over allDeriv when
    * both are set, like the static path).
    */
  def closure(word: String, umls: UmlsTables,
      allDeriv: Boolean = false, noDeriv: Boolean = false): Vector[Variant] = {
    val memo = umls.dynVariantMemo
    val key =
      if (noDeriv) "d:" + word else if (allDeriv) "D:" + word else word
    val cached = memo.get(key)
    if (cached != null) return cached
    val result = compute(word, umls, allDeriv && !noDeriv, noDeriv)
    if (memo.size < MemoCap) memo.put(key, result)
    result
  }

  /** [[closure]] under the default flags of the word with dictionary id
    * `id`, memoized per id on the table set instead of in the word memo
    * (an array read instead of a hash probe; racing writers store equal
    * values).
    */
  private[graft] def closureOf(id: Int, word: String, umls: UmlsTables): Vector[Variant] = {
    val memo = umls.dynVariantsById
    val cached = memo(id)
    if (cached ne null) cached
    else {
      val result = compute(word, umls, allDeriv = false, noDeriv = false)
      memo(id) = result
      result
    }
  }

  private def compute(word: String, umls: UmlsTables,
      allDeriv: Boolean, noDeriv: Boolean): Vector[Variant] = {
    val table =
      // deriv-free closure table (exact when present, the once-per-table
      // history-filtered view otherwise — never rebuilt per word)
      if (noDeriv) umls.variantsNoDerivEffective
      else if (allDeriv && umls.variantsAllDeriv.nonEmpty) umls.variantsAllDeriv
      else umls.variants
    // record resolution: one lm.rules hop (deinflection first — an OOV
    // token is almost always an unlisted inflection of a lexicon word —
    // plus forward inflections for base-shaped gaps) landing on a
    // static-table word
    val bases =
      (Morphology.deinflections(word) ++
        Morphology.inflections(word, "noun") ++
        Morphology.inflections(word, "verb"))
        .distinct.filter(b => b != word && table.contains(b)).sorted
    if (bases.isEmpty) return Vector.empty
    // adopt each resolved record's composed set; glean best per word
    // (minimal level, first canonical-order history on ties) like
    // glean_best_variants (metamap_variants.pl:1299-1322)
    val best = scala.collection.mutable.Map[String, (Int, String)]()
    def add(v: String, l: Int, h: String): Unit =
      if (v != word && best.get(v).forall(_._1 > l)) best(v) = (l, h)
    for (b <- bases) {
      add(b, 1, "i")
      table(b).foreach(v => if (v.word != b) add(v.word, v.varLevel, v.history))
    }
    best.toVector.sortBy { case (v, (l, _)) => (l, v) }
      .map { case (v, (l, h)) => Variant(v, l, h) }
  }
}
