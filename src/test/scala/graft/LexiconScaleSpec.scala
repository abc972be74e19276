package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.pipeline.{DocKernel, Pipeline}
import graft.text.Extract
import graft.umls.MiniUmls

/** Broadcast-scale evidence: the kernel's cost must be flat in index size
  * (hash probes keyed by phrase words, never index scans) and the
  * broadcast itself must stay cheap at real-Metathesaurus scale — the
  * reference lexicon holds 491,635 entries (skr/skr.pl:1451-1462); at
  * 10^12 docs the index is built once and shipped to every executor, so
  * its serialized form must stay compact and exact.
  */
class LexiconScaleSpec extends AnyFunSuite with SparkTestBase {

  test("kernel results identical and throughput flat with a 500k-string index") {
    implicit val s = spark
    val small = MiniUmls.tables
    val big = MiniUmls.scaledTables(500000)
    assert(big.firstWordIndex.valuesIterator.map(_.size).sum >=
      small.firstWordIndex.valuesIterator.map(_.size).sum + 500000)
    // the heap the index itself retains (Spark's estimate, what a
    // broadcast's memory store counts): about 162 MB as an object per
    // entry, about 50 MB as encoded records
    val indexMb = org.apache.spark.util.SizeEstimator.estimate(big.firstWordIndex) / 1e6
    info(f"scaledTables(500000).firstWordIndex retains $indexMb%.1f MB")
    assert(indexMb <= 60.0, f"the first-word index grew to $indexMb%.1f MB")

    // results on fixture pages are identical (synthetic vocab is disjoint)
    val pages = CorpusGen.pages(spark, 200).collect()
    def run(t: graft.umls.UmlsTables): Vector[graft.link.Mention] =
      pages.iterator.filter(_.lang == "en")
        .flatMap(p => DocKernel.mentions(p.url, Extract.htmlToText(p.html), t))
        .toVector
    val a = run(small)
    // JIT warm both paths before timing
    run(big)
    val t0 = System.nanoTime(); val b = run(big); val tBig = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime(); val a2 = run(small); val tSmall = (System.nanoTime() - t1) / 1e9
    assert(a == b, "mentions changed under the scaled index")
    assert(a == a2)
    info(f"200 pages: small-index $tSmall%.3fs vs 500k-string index $tBig%.3fs")
    // flat means within a small constant factor, not proportional to the
    // 2500x index growth; 3x tolerates JIT/GC noise in a unit test
    assert(tBig <= tSmall * 3 + 0.5, f"kernel cost grew with index size: $tSmall vs $tBig")

    // the broadcast's serialized form round-trips: in local mode
    // bc.value is the very object that was broadcast, so serialize
    // through Spark's JavaSerializer (the broadcast's serializer) directly
    val ser = new org.apache.spark.serializer.JavaSerializer(spark.sparkContext.getConf)
      .newInstance()
    val bytes = ser.serialize(big)
    val mb = bytes.remaining / 1e6
    info(f"scaledTables(500000) serialized: $mb%.1f MB")
    assert(mb <= 35.0, f"the serialized table set grew to $mb%.1f MB")
    val back = ser.deserialize[graft.umls.UmlsTables](bytes)
    assert(back.firstWordIndex.size == big.firstWordIndex.size)
    val changed = big.firstWordIndex.iterator.collect {
      case (k, es) if back.firstWordIndex.getOrElse(k, Vector.empty) != es => k
    }.take(5).toVector
    assert(changed.isEmpty, s"entries changed in the round trip for $changed")
    assert(run(back) == a, "mentions changed with the round-tripped tables")
  }
}
