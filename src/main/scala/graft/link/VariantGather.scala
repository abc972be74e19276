package graft.link

import graft.text.{Tok, Tokenizer}
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
      opts: LinkOptions = LinkOptions.default): VariantIndex = {
    // -d swaps in the deriv-free table (exact closure when present, the
    // history-filtered view otherwise — never a silent no-op; wins over
    // -D); --all_derivational_variants swaps in the full-dm.rul table
    val mainTable =
      if (opts.noDerivationalVariants) umls.variantsNoDerivEffective
      else if (opts.allDerivationalVariants && umls.variantsAllDeriv.nonEmpty)
        umls.variantsAllDeriv
      else umls.variants
    val n = phrase.words.length
    if (n == 0) return VariantIndex.empty
    val dict = umls.dict
    val wordArr = new Array[String](n)
    val idArr = new Array[Int](n)
    var wi = 0
    while (wi < n) {
      val pw = phrase.words(wi)
      wordArr(wi) = pw.word
      idArr(wi) = dict.resolve(pw.id, pw.word)
      wi += 1
    }
    val words = scala.collection.immutable.ArraySeq.unsafeWrapArray(wordArr)
    val headPos = phrase.headIdx + 1

    // generators, in reference order: per word left-to-right, longest
    // multiword lexicon form first, then shorter, then the word itself
    // (compute_variant_generators_2/3). The broadcast word trie finds all
    // multiword forms starting at i in one walk (longest first) — no
    // per-phrase substring construction. Each generator keeps its word
    // id for the table tests.
    val gens = scala.collection.mutable.ArrayBuffer[String]()
    var genIds = new Array[Int](n + 4)
    def addGen(g: String, id: Int): Unit = {
      var k = 0
      // ids are equal exactly when dictionary words are
      if (id >= 0) while (k < gens.length && genIds(k) != id) k += 1
      else while (k < gens.length && gens(k) != g) k += 1
      if (k == gens.length) {
        if (k == genIds.length) genIds = java.util.Arrays.copyOf(genIds, 2 * k)
        genIds(k) = id
        gens += g
      }
    }
    var i = 0
    while (i < n) {
      var lens = umls.multiwordTrie.matchesAt(idArr, i, minLen = 2)
      while (lens.nonEmpty) {
        val g = words.slice(i, i + lens.head).mkString(" ")
        addGen(g, dict.id(g))
        lens = lens.tail
      }
      addGen(wordArr(i), idArr(i))
      i += 1
    }

    val index = new VariantIndex.Builder

    var gi = 0
    while (gi < gens.length) {
      val gen = gens(gi)
      val genId = genIds(gi)
      gi += 1
      val genWords = Tokenizer.tokenizeMmLc(gen)
      // all_pairs over first/last word positions with the right span
      // (metamap_variants.pl:1469-1520): for a fixed begin the span length
      // pins the end, so one left-to-right scan enumerates the same pairs
      // in the same (ascending-begin) order
      val len = genWords.length
      val first = genWords.head
      val last = genWords.last
      val firstId = if (first eq gen) genId else dict.id(first)
      val lastId = if (last eq first) firstId else dict.id(last)
      // phrase word k is `w` (dictionary id `wId`): by id for a
      // dictionary word, else by string
      def isAt(k: Int, w: String, wId: Int): Boolean =
        if (wId >= 0) idArr(k) == wId else wordArr(k) == w
      var k = 0
      var nPos = 0
      while (k + len <= n) {
        if (isAt(k, first, firstId) && isAt(k + len - 1, last, lastId)) nPos += 1
        k += 1
      }
      if (nPos > 0) {
        // skip variants for closed-class or <=2-char single words
        // (no_variants_word, metamap_variants.pl:309-339), but the word
        // itself still generates (identity variant)
        val isSingle = len == 1
        val noVariants = isSingle && (gen.length <= 2 || {
          val lw = umls.lexOf(genId)
          lw != null && lw.invariant
        })
        // document-local AA expansion as a level-2 variant (A5 re-expression)
        val aaVars =
          if (aas.isEmpty) Vector.empty[Variant]
          else aas.get(gen).map(exp => Variant(exp.mkString(" "), 2, "a")).toVector
        // split-word expansion (V8, metamap_variants.pl:1421-1454): a fused
        // phrase word matches index strings carrying its two-word form —
        // the two variant words consume two meta positions at ONE phrase
        // position (same letters, so spelling level 0)
        val splitVars =
          if (isSingle && umls.hasFlag(genId, UmlsTables.SplitWord)) umls.splitWords.get(gen)
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
        // that would blow past the closure memo.
        // A static entry lists the word itself, which the identity
        // variant already emits: `skip` names the variant word to leave
        // out of the returned set (null: keep all).
        var skip: String = null
        def lookupVars(table: Map[String, Vector[Variant]]): Vector[Variant] = {
          // the default table by id: every key is in the dictionary
          val static =
            if (table ne umls.variants) table.getOrElse(gen, Vector.empty)
            else {
              val vs = if (genId < 0) null else umls.wordVariants(genId)
              if (vs == null) Vector.empty else vs
            }
          if (static.nonEmpty) { skip = gen; static }
          else if (isSingle && gen.length >= 3 && gen.forall(_.isLetter)) {
            if (genId >= 0 && !opts.allDerivationalVariants && !opts.noDerivationalVariants)
              graft.umls.DynamicVariants.closureOf(genId, gen, umls)
            else graft.umls.DynamicVariants.closure(gen, umls,
              allDeriv = opts.allDerivationalVariants,
              noDeriv = opts.noDerivationalVariants)
          }
          else Vector.empty
        }
        val untaggedTableVars =
          if (tagsByStart.nonEmpty) null
          else if (noVariants) Vector.empty[Variant]
          else lookupVars(mainTable)
        val untaggedSkip = skip
        k = 0
        while (k + len <= n) {
          if (isAt(k, first, firstId) && isAt(k + len - 1, last, lastId)) {
            val pos = (k + 1, k + len)
            // V10: a tagged single-word generator draws from its category's
            // variant table (tag can differ per occurrence position)
            skip = untaggedSkip
            val tableVars = if (untaggedTableVars != null) untaggedTableVars else {
              skip = null
              val catTable =
                if (isSingle)
                  tagsByStart.get(phrase.words(k).start)
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
            val involvesHead = pos._1 <= headPos && headPos <= pos._2
            // emission order base / table / aa / split; the identity
            // variant reuses genWords, table variants their
            // broadcast-resident tokenization (Variant.mmWords)
            index.add(VInfo(gen, pos, involvesHead, 0, genWords, index.size), firstId)
            var vi = 0
            while (vi < tableVars.length) {
              val v = tableVars(vi)
              if ((skip eq null) || v.word != skip) {
                val vWords = v.mmWords
                if (vWords.nonEmpty)
                  index.add(VInfo(gen, pos, involvesHead, v.varLevel, vWords, index.size),
                    Tok.Unresolved)
              }
              vi += 1
            }
            aaVars.foreach(v => if (v.mmWords.nonEmpty) index.add(
              VInfo(gen, pos, involvesHead, v.varLevel, v.mmWords, index.size), Tok.Unresolved))
            splitVars.foreach(v => if (v.mmWords.nonEmpty) index.add(
              VInfo(gen, pos, involvesHead, v.varLevel, v.mmWords, index.size), Tok.Unresolved))
          }
          k += 1
        }
      }
    }
    index.result()
  }
}

/** The per-phrase variant index [[VariantGather.gather]] returns: first
  * variant word -> its vinfos in insertion (seq) order. `inSeqOrder`
  * holds every vinfo in seq order (the evaluator's probe order),
  * `keyOf` its key's position and `nextOf` chains it to the next vinfo
  * of its key, so a key's vinfo vector is built on its first lookup
  * only, from its own vinfos.
  */
final class VariantIndex private (
    private val byWord: StrTable,
    private val keyIds: Array[Int],
    val inSeqOrder: Array[VInfo],
    private val keyOfArr: Array[Int],
    private val firstOf: Array[Int],
    private val nextOf: Array[Int])
    extends scala.collection.immutable.AbstractMap[String, Vector[VInfo]] {

  private[this] val vals = new Array[Vector[VInfo]](byWord.size)

  /** The position of the key of `inSeqOrder(i)`. */
  private[link] def keyOf(i: Int): Int = keyOfArr(i)
  /** The key at position `k`. */
  private[link] def keyAt(k: Int): String = byWord.keyAt(k)
  /** The dictionary id of the key at position `k`, when gathering knew
    * it, else `Tok.Unresolved`.
    */
  private[link] def keyId(k: Int): Int = keyIds(k)

  private def bucket(k: Int): Vector[VInfo] = {
    var v = vals(k)
    if (v == null) {
      val b = new scala.collection.immutable.VectorBuilder[VInfo]
      var i = firstOf(k)
      while (i >= 0) { b += inSeqOrder(i); i = nextOf(i) }
      v = b.result()
      vals(k) = v
    }
    v
  }

  override def get(key: String): Option[Vector[VInfo]] = {
    val i = byWord.get(key)
    if (i < 0) None else Some(bucket(i))
  }
  override def getOrElse[V1 >: Vector[VInfo]](key: String, default: => V1): V1 = {
    val i = byWord.get(key)
    if (i < 0) default else bucket(i)
  }
  override def apply(key: String): Vector[VInfo] = {
    val i = byWord.get(key)
    if (i < 0) default(key) else bucket(i)
  }
  override def contains(key: String): Boolean = byWord.get(key) >= 0
  override def knownSize: Int = byWord.size
  override def size: Int = byWord.size
  override def iterator: Iterator[(String, Vector[VInfo])] =
    Iterator.range(0, size).map(i => (byWord.keyAt(i), bucket(i)))
  override def valuesIterator: Iterator[Vector[VInfo]] = Iterator.range(0, size).map(bucket)
  override def keysIterator: Iterator[String] = Iterator.range(0, size).map(byWord.keyAt)
  // an edited index is an ordinary map
  override def removed(key: String): Map[String, Vector[VInfo]] =
    scala.collection.immutable.HashMap.from(this).removed(key)
  override def updated[V1 >: Vector[VInfo]](key: String, value: V1): Map[String, V1] =
    scala.collection.immutable.HashMap.from[String, V1](this).updated(key, value)
}

object VariantIndex {

  /** The index of a phrase with no words. */
  val empty: VariantIndex = new Builder().result()

  /** Collects vinfos in seq order, keyed by first variant word; the
    * index it returns takes over its key table, so it is used once.
    */
  final class Builder {
    private[this] var all = new Array[VInfo](16)
    private[this] var keyOf = new Array[Int](16)
    private[this] var nextOf = new Array[Int](16)
    private[this] var n = 0
    private[this] var firstOf = new Array[Int](16)
    private[this] var lastOf = new Array[Int](16)
    private[this] var keyIds = new Array[Int](16)
    private[this] val byWord = new StrTable

    def size: Int = n

    /** Adds `v`, whose first word has dictionary id `firstId` when known
      * (`Tok.Unresolved` when not).
      */
    def add(v: VInfo, firstId: Int): Unit = {
      if (n == all.length) {
        all = java.util.Arrays.copyOf(all, n * 2)
        keyOf = java.util.Arrays.copyOf(keyOf, n * 2)
        nextOf = java.util.Arrays.copyOf(nextOf, n * 2)
      }
      all(n) = v
      nextOf(n) = -1
      val nKeys = byWord.size
      val b = byWord.add(v.words.head)
      if (b == nKeys) {
        if (nKeys == firstOf.length) {
          firstOf = java.util.Arrays.copyOf(firstOf, nKeys * 2)
          lastOf = java.util.Arrays.copyOf(lastOf, nKeys * 2)
          keyIds = java.util.Arrays.copyOf(keyIds, nKeys * 2)
        }
        firstOf(b) = n
        keyIds(b) = firstId
      } else {
        nextOf(lastOf(b)) = n
        if (firstId != Tok.Unresolved) keyIds(b) = firstId
      }
      lastOf(b) = n
      keyOf(n) = b
      n += 1
    }

    def result(): VariantIndex =
      new VariantIndex(byWord, java.util.Arrays.copyOf(keyIds, byWord.size),
        java.util.Arrays.copyOf(all, n),
        java.util.Arrays.copyOf(keyOf, n), java.util.Arrays.copyOf(firstOf, byWord.size),
        java.util.Arrays.copyOf(nextOf, n))
  }
}

/** A per-phrase string table: each distinct string gets the next
  * position, found by open addressing over the strings' cached hash
  * codes (no map node or boxed position per key).
  */
private[link] final class StrTable {
  private[this] var keys = new Array[String](16)
  private[this] var slots = new Array[Int](32) // 0 = empty, else 1 + position
  private[this] var n = 0

  def size: Int = n
  def keyAt(k: Int): String = keys(k)

  private def slot(k: String, mask: Int): Int = {
    val h = k.hashCode
    (h ^ (h >>> 16)) * 0x85ebca6b & mask
  }

  /** The position of `k`, or -1. */
  def get(k: String): Int = {
    val mask = slots.length - 1
    var j = slot(k, mask)
    while (slots(j) != 0) {
      if (keys(slots(j) - 1).equals(k)) return slots(j) - 1
      j = (j + 1) & mask
    }
    -1
  }

  def contains(k: String): Boolean = get(k) >= 0

  /** The position of `k`, added at position `size` when new. */
  def add(k: String): Int = {
    val mask = slots.length - 1
    var j = slot(k, mask)
    while (slots(j) != 0) {
      if (keys(slots(j) - 1).equals(k)) return slots(j) - 1
      j = (j + 1) & mask
    }
    if (n == keys.length) keys = java.util.Arrays.copyOf(keys, 2 * n)
    keys(n) = k
    slots(j) = n + 1
    n += 1
    if (2 * n > slots.length) grow()
    n - 1
  }

  private def grow(): Unit = {
    slots = new Array[Int](slots.length * 2)
    val mask = slots.length - 1
    var i = 0
    while (i < n) {
      var j = slot(keys(i), mask)
      while (slots(j) != 0) j = (j + 1) & mask
      slots(j) = i + 1
      i += 1
    }
  }
}
