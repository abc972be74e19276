package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.umls.{IndexEntry, MiniUmls, WordIndex}

/** The array-backed first-word index: one construction path with the
  * canonical per-key order, map semantics, and an exact flat serialized
  * form.
  */
class WordIndexSpec extends AnyFunSuite {

  private def roundTrip[T](x: T): T = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(x)
    out.close()
    new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray)).readObject().asInstanceOf[T]
  }

  private val fixture = MiniUmls.tables.firstWordIndex.valuesIterator.flatten.toVector

  test("from groups by first word in the canonical order, whatever the input order") {
    val reference = fixture.groupBy(_.nmWords.head).map { case (k, v) =>
      k -> v.sortBy(e => (e.nmWords.length, e.cui, e.str))
    }
    val shuffled = WordIndex.from(new scala.util.Random(7).shuffle(fixture))
    assert(shuffled == reference)
    assert(reference == shuffled)
    assert(shuffled.size == reference.size)
    reference.foreach { case (k, es) =>
      assert(shuffled.contains(k) && shuffled(k) == es && shuffled.getOrElse(k, Vector.empty) == es)
    }
    assert(!shuffled.contains("zzz-not-a-word") && !shuffled.contains(null))
    assert(shuffled.get("zzz-not-a-word").isEmpty)
    assert(shuffled.getOrElse("zzz-not-a-word", Vector.empty).isEmpty)
    intercept[NoSuchElementException](shuffled("zzz-not-a-word"))
    // an edited index is an ordinary map
    val k = reference.keys.head
    assert(shuffled.removed(k) == reference.removed(k))
    assert(shuffled.updated("zzz", Vector.empty) == reference.updated("zzz", Vector.empty))
  }

  test("Java serialization round trip: every key, entry and order, concept shared or not") {
    val odd = Vector(
      IndexEntry(Vector("café", "au", "lait"), "Café au lait", "C0000001", "Café au lait spots"),
      IndexEntry(Vector("café"), "café", "C0000002", "café"),
      IndexEntry(Vector("中文", "😀"), "中文 😀", "C0000003", ""),
      IndexEntry(Vector("long", "x" * 70000), "long " + "x" * 70000, "C0000004", "y" * 300))
    val idx = WordIndex.from(fixture ++ odd)
    assert(fixture.exists(e => e.concept != e.str) && fixture.exists(e => e.concept == e.str))
    val back = roundTrip(idx)
    assert(back.isInstanceOf[WordIndex])
    assert(back == idx && back.size == idx.size)
    idx.foreach { case (k, es) => assert(back(k) == es, k) }
    // the first word of every entry is its key, and str-equal concepts
    // come back as the same String
    assert(back.forall { case (k, es) => es.forall(_.nmWords.head eq k) })
    assert(back("café").forall(e => e.concept != e.str || (e.concept eq e.str)))
    assert(roundTrip(WordIndex.from(Nil)).isEmpty)
  }
}
