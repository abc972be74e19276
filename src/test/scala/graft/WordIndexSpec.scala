package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.umls.{IndexEntry, MiniUmls, UmlsIngest, WordIndex}

/** The compact first-word index: one construction path with the
  * canonical per-key order, map semantics, a per-key memo that only the
  * kernel's probes fill, and exact serialized and parquet forms.
  */
class WordIndexSpec extends AnyFunSuite with SparkTestBase {

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

  test("a whole-index pass decodes into temporaries; only table probes fill the memo") {
    val idx = WordIndex.from(fixture)
    assert(idx.iterator.map(_._2.length).sum == fixture.length)
    assert(idx.valuesIterator.map(_.length).sum == fixture.length)
    assert(idx == WordIndex.from(fixture.reverse) && idx.hashCode == WordIndex.from(fixture).hashCode)
    assert(idx.memoized == 0)
    assert(idx.table(3, idx.keysIterator.indexOf("heart")) == idx("heart"))
    assert(idx.memoized == 1)
    // positions past the keys (dictionary-only words) and -1 have no entries
    assert(idx.table(3, -1).isEmpty && idx.table(1, idx.size).isEmpty && idx.memoized == 1)
  }

  test("8 threads making first probes of the same keys get equal vectors") {
    val expected = WordIndex.from(fixture)
    val want = (1 to 4).map(t => Vector.tabulate(expected.size)(expected.table(t, _)))
    val idx = WordIndex.from(fixture)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val got = (0 until 8).map { k =>
        pool.submit(() => {
          start.await()
          // each thread starts at its own key, so first probes collide
          (1 to 4).map { t =>
            val res = new Array[Vector[IndexEntry]](idx.size)
            (0 until idx.size).map(i => (k * 7 + i) % idx.size).foreach(i => res(i) = idx.table(t, i))
            res.toVector
          }
        })
      }
      start.countDown()
      got.foreach(f => assert(f.get() == want))
    } finally pool.shutdown()
    assert(idx.memoized == idx.size)
    // the narrow tables are the full list's prefixes and first_wordsb
    assert(want(0).zip(want(2)).forall { case (one, full) =>
      one == full.filter(_.nmWords.length == 1) })
    assert(want(1).zip(want(2)).forall { case (two, full) =>
      two == full.filter(_.nmWords.length <= 2) })
  }

  test("serialized and dump/load round trips keep UTF-8 strings, concepts and the order") {
    implicit val s = spark
    val odd = Vector(
      ("Café au lait", "C7000001", "Café au lait spots"),
      ("Café au lait macchiato", "C7000002", "Café au lait macchiato"),
      ("Naïve T-cell, NOS", "C7000003", "Naïve T-cell"),
      ("Größe", "C7000004", "Größe")).map { case (str, cui, pref) =>
      IndexEntry(MiniUmls.normalizeString(str), str, cui, pref)
    }
    val t = MiniUmls.tables
    val idx = WordIndex.from(fixture ++ odd)
    val tables = t.copy(firstWordIndex = idx,
      cuiPreferred = t.cuiPreferred ++ odd.map(e => e.cui -> e.concept))
    val counts = idx.valuesIterator.map(_.length).toSet
    assert(counts.contains(1) && counts.max >= 5, counts)
    assert(odd.exists(e => e.concept != e.str) && odd.exists(e => e.concept == e.str))
    assert(odd.forall(_.str.exists(_ > 127)))
    val dir = java.nio.file.Files.createTempDirectory("wordindex_dump").toString
    UmlsIngest.dump(tables, dir)
    val loaded = UmlsIngest.load(dir).firstWordIndex
    Seq(loaded, roundTrip(idx), roundTrip(loaded)).foreach { back =>
      assert(back == idx)
      idx.foreach { case (k, es) => assert(back(k) == es, k) }
      odd.foreach(e => assert(back(e.nmWords.head).contains(e), e))
    }
    assert(loaded(odd(0).nmWords.head).filter(_.cui.startsWith("C7")).map(_.str) ==
      Vector("Café au lait", "Café au lait macchiato"))
  }
}
