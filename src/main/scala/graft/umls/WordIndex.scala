package graft.umls

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.{AbstractMap, HashMap}
import scala.collection.mutable

/** The first-word string index (first_words, lib/word_index.pl:80-85):
  * word -> the index entries whose normalized string starts with that
  * word, each key's entries in the canonical order
  * (nmWords.length, cui, str).
  *
  * Shaped for the broadcast that ships it to every executor and for the
  * heap of each executor that holds it:
  *  - in memory it is a key array with its open-addressing slot table of
  *    ints ([[StrSlots]], shared with [[WordDict]]), one byte array that
  *    holds every key's entries as encoded records (see [[WordIndex.Flat]]
  *    for the encoding) and an int offset per key into it. No entry is an
  *    object until a key is read: for `MiniUmls.scaledTables(500000)` the
  *    index retains about 110 B per entry, the keys' `String`s included,
  *    where an object per entry, its word vector and its strings took
  *    about 340 B;
  *  - serialized it is the key strings and then the record bytes as they
  *    are, so deserializing makes a `String` per key and no entry object.
  *
  * The kernel reads a key's entries through [[table]], which decodes them
  * the first time and keeps them, with their narrow tables, in a per-key
  * memo. The memo takes no lock: two threads may decode the same key at
  * once, and either's immutable result may stay. Nor is it ever evicted,
  * so the saving above holds for traffic that probes a small share of
  * the keys: once every key has been probed, the index holds the
  * records and every decoded entry, more than an object-per-entry index
  * with its narrow tables derived (for `scaledTables(500000)`, 205 MB
  * retained against 176 MB; `graft.tools.Measure tables`). The map
  * interface (`get`, `getOrElse`, `apply`, `iterator`, `valuesIterator`,
  * equality) reads the memo but never fills it, so a pass over the whole index
  * builds its entries as garbage instead of keeping them. Lookups probe
  * the slot table and allocate no `Option`. Built only through
  * [[WordIndex.from]].
  */
final class WordIndex private (
    private val words: Array[String],
    private val records: Array[Byte],
    private val offsets: Array[Int])
    extends AbstractMap[String, Vector[IndexEntry]] with Serializable {
  import WordIndex.{Records, Tables}

  private[this] val slots: Array[Int] = StrSlots.build(words)
  // the decoded tables of each key the kernel has read; see the class doc
  @transient private[this] val memo = new Array[Tables](words.length)

  /** The key's position in `words`, or -1. */
  private[umls] def find(key: String): Int = StrSlots.find(slots, words, key)
  /** [[find]] of the lowercase of `text[from, to)` ([[StrSlots.findLower]]). */
  private[umls] def findLower(text: String, from: Int, to: Int, h: Int,
      upper: Boolean): Int =
    StrSlots.findLower(slots, words, text, from, to, h, upper)

  /** The number of keys; positions run from 0 to `size - 1`. */
  private[umls] def keyCount: Int = words.length
  private[umls] def keyAt(i: Int): String = words(i)

  /** The entries of the key at position `pos` in index table `t`
    * (`graft.link.Evaluator.tableFor`'s positions 1-4: of_one, of_two,
    * first_words, first_wordsb), decoded once and then kept; empty for
    * a position outside the keys, such as a [[WordDict]] id past them.
    */
  def table(t: Int, pos: Int): Vector[IndexEntry] =
    if (pos < 0 || pos >= words.length) Vector.empty
    else {
      var m = memo(pos)
      if (m == null) {
        m = tablesOf(pos, decode(pos))
        memo(pos) = m
      }
      m(t)
    }

  /** The number of keys whose tables [[table]] has decoded. */
  private[graft] def memoized: Int = memo.count(_ != null)

  /** [[UmlsTables.frequentFirstWordPairs]]. The first word of a pair is
    * the key, so each key's last words are counted on their own, one key
    * decoded at a time, and a key with fewer entries than the cutoff is
    * skipped undecoded.
    */
  @transient private[umls] lazy val frequentPairs: Map[String, Set[String]] =
    Iterator.range(0, words.length)
      .filter(i => new Records(records, offsets(i)).varInt() >= UmlsTables.FrequentPairCutoff)
      .flatMap { i =>
        val hot = entriesAt(i).filter(_.nmWords.length >= 2)
          .groupMapReduce(_.nmWords.last)(_ => 1)(_ + _)
          .collect { case (w2, n) if n >= UmlsTables.FrequentPairCutoff => w2 }.toSet
        if (hot.isEmpty) None else Some(words(i) -> hot)
      }.toMap

  private def tablesOf(pos: Int, full: Vector[IndexEntry]): Tables =
    new Tables(full, frequentPairs.getOrElse(words(pos), Set.empty))

  /** The entries of the key at `pos`: the memo's, else freshly decoded. */
  private def entriesAt(pos: Int): Vector[IndexEntry] = {
    val m = memo(pos)
    if (m != null) m.full else decode(pos)
  }

  /** The records of the key at `pos` as entries; the first word of each
    * is the key's own `String`.
    */
  private def decode(pos: Int): Vector[IndexEntry] = {
    val w = words(pos)
    val r = new Records(records, offsets(pos))
    val m = r.varInt()
    val es = new Array[IndexEntry](m)
    var j = 0
    while (j < m) {
      val h = r.varInt()
      val nm = new Array[String](h >>> 1)
      nm(0) = w
      var k = 1
      while (k < nm.length) { nm(k) = r.str(); k += 1 }
      val str = r.str()
      val cui = r.str()
      val concept = if ((h & 1) == 1) str else r.str()
      es(j) = IndexEntry(Vector.from(nm), str, cui, concept)
      j += 1
    }
    Vector.from(es)
  }

  override def get(key: String): Option[Vector[IndexEntry]] = {
    val i = find(key)
    if (i < 0) None else Some(entriesAt(i))
  }

  override def getOrElse[V1 >: Vector[IndexEntry]](key: String, default: => V1): V1 = {
    val i = find(key)
    if (i < 0) default else entriesAt(i)
  }

  override def apply(key: String): Vector[IndexEntry] = {
    val i = find(key)
    if (i < 0) default(key) else entriesAt(i)
  }

  override def contains(key: String): Boolean = find(key) >= 0

  override def knownSize: Int = words.length

  override def iterator: Iterator[(String, Vector[IndexEntry])] =
    Iterator.range(0, words.length).map(i => (words(i), entriesAt(i)))
  override def keysIterator: Iterator[String] = words.iterator
  override def valuesIterator: Iterator[Vector[IndexEntry]] =
    Iterator.range(0, words.length).map(entriesAt)

  // an edited index is an ordinary map
  override def removed(key: String): Map[String, Vector[IndexEntry]] =
    HashMap.from(this).removed(key)
  override def updated[V1 >: Vector[IndexEntry]](key: String, value: V1): Map[String, V1] =
    HashMap.from[String, V1](this).updated(key, value)

  private def writeReplace(): AnyRef = new WordIndex.Flat(this)
}

object WordIndex {

  private val canonical: Ordering[IndexEntry] = (a, b) => {
    val c = Integer.compare(a.nmWords.length, b.nmWords.length)
    if (c != 0) c
    else {
      val d = a.cui.compareTo(b.cui)
      if (d != 0) d else a.str.compareTo(b.str)
    }
  }

  /** The one construction path: group `es` by first normalized word,
    * sort each key's entries canonically (a stable sort, so duplicate
    * entries keep their input order) and encode them.
    */
  def from(es: IterableOnce[IndexEntry]): WordIndex = {
    val groups = mutable.HashMap.empty[String, mutable.ArrayBuffer[IndexEntry]]
    es.iterator.foreach(e => groups.getOrElseUpdate(e.nmWords.head, mutable.ArrayBuffer.empty) += e)
    val words = new Array[String](groups.size)
    val offsets = new Array[Int](groups.size)
    val out = new RecordsOut
    var i = 0
    groups.foreachEntry { (w, buf) =>
      val a = buf.toArray
      java.util.Arrays.sort(a, canonical)
      words(i) = w
      offsets(i) = out.size
      out.varInt(a.length)
      a.foreach { e =>
        val sameConcept = e.concept == e.str
        out.varInt((e.nmWords.length << 1) | (if (sameConcept) 1 else 0))
        e.nmWords.iterator.drop(1).foreach(out.str)
        out.str(e.str)
        out.str(e.cui)
        if (!sameConcept) out.str(e.concept)
      }
      i += 1
    }
    new WordIndex(words, out.result(), offsets)
  }

  /** A key's entries in the tables the kernel probes (C2,
    * metamap_candidates.pl:298-387, word_index.pl:80-85).
    * first_words_of_one and first_words_of_two hold the strings of
    * exactly one and at most two normalized words: the kernel probes them
    * instead of first_words when the phrase room left caps the matchable
    * length, a pure retrieval optimization (KernelSpec asserts the
    * parity), and of_two keeps the 1-word strings so that mid-phrase
    * words keep their single-word concepts. Both are prefixes of the full
    * list, whose canonical order puts shorter strings first.
    * first_wordsb drops the strings <w1> ... <w2> of a frequent pair
    * (w1, w2) of the key's (`hot`: its w2s), the reference's own hot-key
    * defense, probed when no gathered variant could complete such a pair;
    * it differs from the full list only for a key with frequent pairs. A
    * table no filter changes is the full vector itself.
    */
  private final class Tables(val full: Vector[IndexEntry], hot: Set[String]) {
    private[this] val ofOne = prefix(full.segmentLength(_.nmWords.length == 1))
    private[this] val ofTwo = prefix(full.segmentLength(_.nmWords.length <= 2))
    private[this] val wordsB =
      if (hot.isEmpty) full
      else full.filterNot(e => e.nmWords.length >= 2 && hot.contains(e.nmWords.last))

    private def prefix(n: Int): Vector[IndexEntry] =
      if (n == full.length) full else full.take(n)

    def apply(t: Int): Vector[IndexEntry] = t match {
      case 1 => ofOne
      case 2 => ofTwo
      case 3 => full
      case 4 => wordsB
      case _ => throw new IllegalArgumentException(s"no index table $t")
    }
  }

  /** The serialized form of a [[WordIndex]]: the key count, then two
    * length-prefixed byte blocks, the keys and the records. Strings are
    * UTF-8 with a varint length. Per key the records hold the entry count
    * and per entry `(nmWords.length << 1) | (concept == str)`, the words
    * after the first (the first is the key), str, cui, and concept unless
    * it equals str. Deserializing reads each block with one `readFully`,
    * makes a `String` per key and finds each key's offset by skipping
    * through the records.
    */
  @SerialVersionUID(2L)
  private final class Flat(@transient private var index: WordIndex) extends Serializable {

    private def writeObject(out: ObjectOutputStream): Unit = {
      val keys = new RecordsOut
      index.words.foreach(keys.str)
      out.writeInt(index.words.length)
      Seq(keys.result(), index.records).foreach { b =>
        out.writeInt(b.length)
        out.write(b)
      }
    }

    private def readObject(in: ObjectInputStream): Unit = {
      val n = in.readInt()
      def block(): Array[Byte] = {
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        b
      }
      val keys = new Records(block(), 0)
      val words = Array.fill(n)(keys.str())
      val records = block()
      val offsets = new Array[Int](n)
      val r = new Records(records, 0)
      var i = 0
      while (i < n) {
        offsets(i) = r.pos
        var m = r.varInt()
        while (m > 0) {
          val h = r.varInt()
          // the words after the first, str, cui and a concept of its own
          var k = (h >>> 1) + 1 + (if ((h & 1) == 1) 0 else 1)
          while (k > 0) { r.skipStr(); k -= 1 }
          m -= 1
        }
        i += 1
      }
      index = new WordIndex(words, records, offsets)
    }

    private def readResolve(): AnyRef = index
  }

  /** A reading position in encoded records. */
  private final class Records(b: Array[Byte], var pos: Int) {
    def varInt(): Int = {
      var r = 0
      var shift = 0
      var x = 0x80
      while ((x & 0x80) != 0) {
        x = b(pos)
        pos += 1
        r |= (x & 0x7f) << shift
        shift += 7
      }
      r
    }
    def str(): String = {
      val n = varInt()
      val s = new String(b, pos, n, UTF_8)
      pos += n
      s
    }
    def skipStr(): Unit = { val n = varInt(); pos += n }
  }

  /** Encodes records into a growing byte array. */
  private final class RecordsOut {
    private[this] var b = new Array[Byte](1 << 16)
    var size = 0
    private def room(n: Int): Unit =
      if (size + n > b.length) b = java.util.Arrays.copyOf(b, math.max(size + n, 2 * b.length))
    def varInt(v: Int): Unit = {
      room(5)
      var x = v
      while ((x & ~0x7f) != 0) { b(size) = ((x & 0x7f) | 0x80).toByte; size += 1; x >>>= 7 }
      b(size) = x.toByte
      size += 1
    }
    def str(s: String): Unit = {
      val u = s.getBytes(UTF_8)
      varInt(u.length)
      room(u.length)
      System.arraycopy(u, 0, b, size, u.length)
      size += u.length
    }
    def result(): Array[Byte] = java.util.Arrays.copyOf(b, size)
  }
}
