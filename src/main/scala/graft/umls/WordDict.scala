package graft.umls

import graft.text.Tok

/** Open-addressing slot tables over a string key array: slot 0 is empty,
  * else it holds 1 + the key's position; load factor <= 0.5. Shared by
  * [[WordIndex]] and [[WordDict]].
  */
private[umls] object StrSlots {

  // murmur3's finalizer: String hashes of similar words are near-sequential,
  // which would pile linear probes into long runs
  private def spread(h0: Int): Int = {
    var h = h0 ^ (h0 >>> 16)
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }

  def build(keys: Array[String]): Array[Int] = {
    var cap = 2
    while (cap < 2 * keys.length) cap <<= 1
    val s = new Array[Int](cap)
    var i = 0
    while (i < keys.length) {
      var j = spread(keys(i).hashCode) & (cap - 1)
      while (s(j) != 0) j = (j + 1) & (cap - 1)
      s(j) = i + 1
      i += 1
    }
    s
  }

  /** The position of the key equal to the ASCII lowercase of the ASCII
    * alphanumeric run `text[from, to)`, whose String hash is `h`, or -1;
    * `upper` tells whether the run holds an uppercase letter.
    */
  def findLower(slots: Array[Int], keys: Array[String], text: String, from: Int,
      to: Int, h: Int, upper: Boolean): Int = {
    val mask = slots.length - 1
    val len = to - from
    var j = spread(h) & mask
    while (slots(j) != 0) {
      val k = keys(slots(j) - 1)
      // a run without uppercase is its own lowercase; one with uppercase
      // lowercases to a key of lowercase letters and digits it matches
      // ignoring case
      if (k.length == len && k.hashCode == h &&
        (if (!upper) text.regionMatches(from, k, 0, len)
        else text.regionMatches(true, from, k, 0, len) && isLowerAlnum(k)))
        return slots(j) - 1
      j = (j + 1) & mask
    }
    -1
  }

  private def isLowerAlnum(k: String): Boolean = {
    var c = 0
    while (c < k.length && {
      val ch = k.charAt(c)
      (ch >= 'a' && ch <= 'z') || (ch >= '0' && ch <= '9')
    }) c += 1
    c == k.length
  }

  /** The key's position in `keys`, or -1. */
  def find(slots: Array[Int], keys: Array[String], key: String): Int =
    if (key == null) -1
    else {
      val mask = slots.length - 1
      var j = spread(key.hashCode) & mask
      var r = -2
      while (r == -2) {
        val s = slots(j)
        if (s == 0) r = -1
        else if (keys(s - 1).equals(key)) r = s - 1
        else j = (j + 1) & mask
      }
      r
    }
}

/** The kernel's word dictionary: every word the kernel probes a table
  * with by string gets one int id, so a token is hashed once and each
  * later test is an array read (see [[UmlsTables.dict]]).
  *
  * Ids below the first-word index's key count are that index's own key
  * positions: its key array and slot table are reused, not copied. The
  * words no index key covers follow, numbered in input order. An id of
  * -1 means the word is in no table the dictionary covers.
  */
final class WordDict private (index: WordIndex, extra: Array[String]) {

  private[this] val base = index.keyCount
  private[this] val slots = StrSlots.build(extra)

  /** The number of ids. */
  val size: Int = base + extra.length

  /** The id of `w`, or -1. */
  def id(w: String): Int = {
    // the small table first: a miss there is cheap, one in a large index
    // is a cache miss
    val j = StrSlots.find(slots, extra, w)
    if (j >= 0) base + j else index.find(w)
  }

  /** [[id]] of the ASCII lowercase of the ASCII alphanumeric run
    * `text[from, to)`, given that string's hash `h` and whether the run
    * holds an uppercase letter, without building it.
    */
  def idOfLower(text: String, from: Int, to: Int, h: Int, upper: Boolean): Int = {
    val j = StrSlots.findLower(slots, extra, text, from, to, h, upper)
    if (j >= 0) base + j else index.findLower(text, from, to, h, upper)
  }

  /** The word of an id; for an id from [[id]], an equal string. */
  def word(id: Int): String = if (id < base) index.keyAt(id) else extra(id - base)

  /** The id of a token or phrase word that carries `id`: that id, unless
    * it was made without a dictionary ([[Tok.Unresolved]]), then probed.
    */
  def resolve(id: Int, w: String): Int = if (id == Tok.Unresolved) this.id(w) else id
}

object WordDict {

  /** The dictionary over the keys of `index` and `words` (duplicates
    * and index keys among `words` are skipped).
    */
  def build(index: WordIndex, words: Iterator[String]): WordDict = {
    val more = new java.util.LinkedHashSet[String]
    words.foreach(w => if (w != null && index.find(w) < 0) more.add(w))
    new WordDict(index, more.toArray(new Array[String](0)))
  }
}
