package graft.umls

/** Word-level trie — the broadcast Aho-Corasick-style matcher of the
  * north_star: built once per table set, walked per position on
  * executors. A probe costs at most the longest dictionary entry,
  * independent of dictionary size, and builds no substrings (the previous
  * formulation constructed O(n^2) candidate strings per phrase to
  * hash-probe).
  *
  * Keyed by [[WordDict]] ids: a step scans a small node's child ids and
  * probes a larger node's int slot table, and a word outside the
  * dictionary (id -1) matches nothing.
  *
  * Used for multiword lexicon forms (variant generators, SURVEY §2.5 V1)
  * and NegEx trigger phrases (§2.11 N1) — the same machinery the
  * reference's longest-match lexicon scan needs (SURVEY §2.4 P2).
  */
final class WordTrie private (
    private val keys: Array[Int],
    private val kids: Array[WordTrie],
    val terminal: Boolean) extends Serializable {

  // nodes with more than 8 children: open addressing, 0 = empty, else
  // 1 + the child's position; load factor <= 0.5
  private[this] val slots: Array[Int] =
    if (keys.length <= 8) null
    else {
      var cap = 16
      while (cap < 2 * keys.length) cap <<= 1
      val s = new Array[Int](cap)
      var i = 0
      while (i < keys.length) {
        var j = WordTrie.slot(keys(i), cap - 1)
        while (s(j) != 0) j = (j + 1) & (cap - 1)
        s(j) = i + 1
        i += 1
      }
      s
    }

  /** The child under word id `id`, or null. */
  def step(id: Int): WordTrie =
    if (slots eq null) {
      var k = 0
      while (k < keys.length && keys(k) != id) k += 1
      if (k < keys.length) kids(k) else null
    } else {
      val mask = slots.length - 1
      var j = WordTrie.slot(id, mask)
      var r: WordTrie = null
      while (slots(j) != 0 && (r eq null)) {
        if (keys(slots(j) - 1) == id) r = kids(slots(j) - 1)
        else j = (j + 1) & mask
      }
      r
    }

  /** Word-lengths of all dictionary entries starting at `ids(i)`,
    * LONGEST FIRST; entries shorter than `minLen` are skipped.
    */
  def matchesAt(ids: Array[Int], i: Int, minLen: Int = 1): List[Int] = {
    var node = step(ids, i)
    var k = i + 1
    var out = List.empty[Int]
    while (node ne null) {
      if (node.terminal && k - i >= minLen) out = (k - i) :: out
      node = if (k < ids.length) node.step(ids(k)) else null
      k += 1
    }
    out
  }

  private def step(ids: Array[Int], i: Int): WordTrie =
    if (i < ids.length) step(ids(i)) else null
}

object WordTrie {

  private def slot(id: Int, mask: Int): Int = (id * 0x9e3779b9) >>> 16 & mask

  /** The trie over `forms`, each word numbered by `dict` (which must
    * cover every word of every form).
    */
  def build(forms: Iterable[Seq[String]], dict: WordDict): WordTrie = {
    val nonEmpty = forms.filter(_ != null)
    val terminal = nonEmpty.exists(_.isEmpty)
    val children = nonEmpty.filter(_.nonEmpty).groupBy(f => dict.id(f.head))
      .toArray.sortBy(_._1) // a fixed child order, whatever groupBy's
    require(children.forall(_._1 >= 0), "a trie word is missing from the dictionary")
    new WordTrie(children.map(_._1), children.map(c => build(c._2.map(_.tail), dict)),
      terminal)
  }
}
