package graft.umls

import java.io.{DataInput, DataOutput, ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.{AbstractMap, HashMap}
import scala.collection.mutable

/** The first-word string index (first_words, lib/word_index.pl:80-85):
  * word -> the index entries whose normalized string starts with that
  * word, each key's entries in the canonical order
  * (nmWords.length, cui, str).
  *
  * Shaped for the broadcast that ships it to every executor:
  *  - in memory it is a key array, a value array and an open-addressing
  *    slot table of ints, so Spark's SizeEstimator samples two large
  *    arrays instead of walking a hash trie of one node per key;
  *  - serialized it is flat columns (see [[WordIndex.Flat]]): per key the
  *    word, then per entry its remaining words, str, cui and concept, each
  *    string once, instead of Java serialization's object-by-object graph.
  *
  * Lookups (`getOrElse`, `contains`, `apply`) probe the slot table and
  * allocate no `Option`. Built only through [[WordIndex.from]].
  */
final class WordIndex private (
    private val words: Array[String],
    private val entries: Array[Vector[IndexEntry]])
    extends AbstractMap[String, Vector[IndexEntry]] with Serializable {

  private[this] val slots: Array[Int] = StrSlots.build(words)

  /** The key's position in `words`, or -1. */
  private[umls] def find(key: String): Int = StrSlots.find(slots, words, key)
  /** [[find]] of the lowercase of `text[from, to)` ([[StrSlots.findLower]]). */
  private[umls] def findLower(text: String, from: Int, to: Int, h: Int,
      upper: Boolean): Int =
    StrSlots.findLower(slots, words, text, from, to, h, upper)

  /** The number of keys; positions run from 0 to `size - 1`. */
  private[umls] def keyCount: Int = words.length
  private[umls] def keyAt(i: Int): String = words(i)
  /** The entries of every key by position: shared, not copied. */
  private[umls] def entriesByPos: Array[Vector[IndexEntry]] = entries

  override def get(key: String): Option[Vector[IndexEntry]] = {
    val i = find(key)
    if (i < 0) None else Some(entries(i))
  }

  override def getOrElse[V1 >: Vector[IndexEntry]](key: String, default: => V1): V1 = {
    val i = find(key)
    if (i < 0) default else entries(i)
  }

  override def apply(key: String): Vector[IndexEntry] = {
    val i = find(key)
    if (i < 0) default(key) else entries(i)
  }

  override def contains(key: String): Boolean = find(key) >= 0

  override def knownSize: Int = words.length

  override def iterator: Iterator[(String, Vector[IndexEntry])] =
    Iterator.range(0, words.length).map(i => (words(i), entries(i)))
  override def valuesIterator: Iterator[Vector[IndexEntry]] = entries.iterator

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

  /** The one construction path: group `es` by first normalized word and
    * sort each key's entries canonically (a stable sort, so duplicate
    * entries keep their input order).
    */
  def from(es: IterableOnce[IndexEntry]): WordIndex = {
    val groups = mutable.HashMap.empty[String, mutable.ArrayBuffer[IndexEntry]]
    es.iterator.foreach(e => groups.getOrElseUpdate(e.nmWords.head, mutable.ArrayBuffer.empty) += e)
    val words = new Array[String](groups.size)
    val entries = new Array[Vector[IndexEntry]](groups.size)
    var i = 0
    groups.foreachEntry { (w, buf) =>
      val a = buf.toArray
      java.util.Arrays.sort(a, canonical)
      words(i) = w
      entries(i) = Vector.from(a)
      i += 1
    }
    new WordIndex(words, entries)
  }

  /** The serialized form of a [[WordIndex]]: the key count, then per key
    * the word, the entry count and per entry
    * `(nmWords.length << 1) | (concept == str)`, the words after the
    * first (the first is the key), str, cui, and concept unless it equals
    * str. Strings are UTF-8 with a varint length. Deserializing rebuilds
    * the arrays and the slot table.
    */
  @SerialVersionUID(1L)
  private final class Flat(@transient private var index: WordIndex) extends Serializable {

    private def writeObject(out: ObjectOutputStream): Unit = {
      val ws = index.words
      out.writeInt(ws.length)
      var i = 0
      while (i < ws.length) {
        writeStr(out, ws(i))
        val es = index.entries(i)
        writeVarInt(out, es.length)
        es.foreach { e =>
          val sameConcept = e.concept == e.str
          writeVarInt(out, (e.nmWords.length << 1) | (if (sameConcept) 1 else 0))
          e.nmWords.iterator.drop(1).foreach(writeStr(out, _))
          writeStr(out, e.str)
          writeStr(out, e.cui)
          if (!sameConcept) writeStr(out, e.concept)
        }
        i += 1
      }
    }

    private def readObject(in: ObjectInputStream): Unit = {
      val n = in.readInt()
      val words = new Array[String](n)
      val entries = new Array[Vector[IndexEntry]](n)
      val buf = new StrBuf
      var i = 0
      while (i < n) {
        val w = buf.read(in)
        val es = Vector.newBuilder[IndexEntry]
        var m = readVarInt(in)
        while (m > 0) {
          val h = readVarInt(in)
          val nm = Vector.newBuilder[String]
          nm += w
          var k = h >>> 1
          while (k > 1) { nm += buf.read(in); k -= 1 }
          val str = buf.read(in)
          val cui = buf.read(in)
          val concept = if ((h & 1) == 1) str else buf.read(in)
          es += IndexEntry(nm.result(), str, cui, concept)
          m -= 1
        }
        words(i) = w
        entries(i) = es.result()
        i += 1
      }
      index = new WordIndex(words, entries)
    }

    private def readResolve(): AnyRef = index
  }

  private def writeVarInt(out: DataOutput, v: Int): Unit = {
    var x = v
    while ((x & ~0x7f) != 0) { out.writeByte((x & 0x7f) | 0x80); x >>>= 7 }
    out.writeByte(x)
  }

  private def readVarInt(in: DataInput): Int = {
    var r = 0
    var shift = 0
    var b = 0x80
    while ((b & 0x80) != 0) {
      b = in.readByte()
      r |= (b & 0x7f) << shift
      shift += 7
    }
    r
  }

  private def writeStr(out: DataOutput, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    writeVarInt(out, b.length)
    out.write(b)
  }

  /** Reads [[writeStr]] strings through one growing byte buffer. */
  private final class StrBuf {
    private[this] var b = new Array[Byte](64)
    def read(in: DataInput): String = {
      val n = readVarInt(in)
      if (n > b.length) b = new Array[Byte](math.max(n, 2 * b.length))
      in.readFully(b, 0, n)
      new String(b, 0, n, UTF_8)
    }
  }
}
