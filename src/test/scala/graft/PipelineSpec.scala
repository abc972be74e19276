package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.pipeline.{Page, Pipeline}
import graft.text.Extract

/** End-to-end pipeline gates (BASELINE.md):
  *  - byte-identical text extraction per url (row-wise);
  *  - triple P/R >= 0.95 vs the closed-form oracle;
  *  - repartition invariance (determinism under parallelism).
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private val nPages = 400L

  test("byte-identical extraction per url (row-wise gate)") {
    implicit val s = spark
    import s.implicits._
    val pages = CorpusGen.pages(spark, nPages)
    val bad = pages.map(p => (p.url, Extract.htmlToText(p.html) == p.text))
      .filter(!_._2).count()
    assert(bad == 0L)
  }

  test("triple P/R >= 0.95 vs closed-form oracle") {
    implicit val s = spark
    import s.implicits._
    val pages = CorpusGen.pages(spark, nPages)
    val got = Pipeline.run(pages)
      .select("subj_cui", "pred", "obj_cui", "url", "sentNo")
      .as[(String, String, String, String, Int)].collect().toSet
    val exp = CorpusGen.expectedTriples(spark, nPages)
      .as[graft.corpus.ExpectedTriple]
      .collect().map(t => (t.subj_cui, t.pred, t.obj_cui, t.url, t.sentNo)).toSet
    val tp = (got & exp).size.toDouble
    val precision = if (got.isEmpty) 0.0 else tp / got.size
    val recall = if (exp.isEmpty) 0.0 else tp / exp.size
    info(f"triples: got=${got.size} exp=${exp.size} P=$precision%.4f R=$recall%.4f")
    if (precision < 1.0) {
      val fp = (got -- exp).take(5)
      info(s"sample false positives: $fp")
    }
    if (recall < 1.0) {
      val fn = (exp -- got).take(5)
      info(s"sample false negatives: $fn")
    }
    assert(precision >= 0.95, "precision gate")
    assert(recall >= 0.95, "recall gate")
  }

  test("mentions match closed-form oracle (score-exact)") {
    implicit val s = spark
    import s.implicits._
    val pages = CorpusGen.pages(spark, nPages)
    val umls = Pipeline.broadcastUmls(spark)
    val got = Pipeline.wsdDedup(Pipeline.mentions(pages, umls), umls)
      .select("url", "sentNo", "start", "len", "cui", "score", "negated")
      .as[(String, Int, Int, Int, String, Int, Boolean)].collect().toSet
    val exp = CorpusGen.expectedMentions(spark, nPages).collect()
      .map(m => (m.url, m.sentNo, m.start, m.len, m.cui, m.score, m.negated)).toSet
    val tp = (got & exp).size.toDouble
    val p = if (got.isEmpty) 0.0 else tp / got.size
    val r = if (exp.isEmpty) 0.0 else tp / exp.size
    info(f"mentions: got=${got.size} exp=${exp.size} P=$p%.4f R=$r%.4f")
    if (p < 1.0) info(s"sample FP: ${(got -- exp).take(5)}")
    if (r < 1.0) info(s"sample FN: ${(exp -- got).take(5)}")
    assert(p >= 0.95 && r >= 0.95)
  }

  test("repartition invariance: triples identical at 2 vs 16 partitions") {
    implicit val s = spark
    val p2 = CorpusGen.pages(spark, 120, partitions = 2)
    val p16 = CorpusGen.pages(spark, 120, partitions = 16)
    val t2 = Pipeline.run(p2).collect().map(_.toString).sorted.toVector
    val t16 = Pipeline.run(p16).collect().map(_.toString).sorted.toVector
    assert(t2 == t16)
  }

  test("map-side and shuffled triple paths produce identical results") {
    implicit val s = spark
    val pages = CorpusGen.pages(spark, 150)
    val local = Pipeline.run(pages).collect().map(_.toString).sorted.toVector
    val shuffled = Pipeline.runShuffled(pages, Pipeline.broadcastUmls(spark))
      .select("subj_cui", "pred", "obj_cui", "url", "sentNo")
      .collect().map(_.toString).sorted.toVector
    assert(local == shuffled)
  }

  test("non-English rows pass through unprocessed") {
    implicit val s = spark
    import s.implicits._
    val umls = Pipeline.broadcastUmls(spark)
    val es = Seq(Page("u1", new java.sql.Timestamp(0L),
      "<html><body><p>The patient had pneumonia and fever.</p></body></html>".getBytes,
      "The patient had pneumonia and fever.", "es")).toDS()
    assert(Pipeline.mentions(es, umls).count() == 0L)
  }

  test("one table broadcast per SparkContext: runs share it, a new context gets its own") {
    implicit val s = spark
    val first = Pipeline.broadcastUmls(spark)
    val pages = CorpusGen.pages(spark, 40)
    val t1 = Pipeline.run(pages).collect().map(_.toString).sorted.toVector
    val t2 = Pipeline.run(pages).collect().map(_.toString).sorted.toVector
    assert(t1 == t2)
    assert(Pipeline.broadcastUmls(spark) eq first)
    assert(Pipeline.broadcastUmls(spark.newSession()).id == first.id)
    // a stopped context's broadcast is never handed out again: the shared
    // test context stays up, so the stop runs in a JVM of its own
    val (code, out) = ChildJvm.run("graft.BroadcastLifecycleMain")
    assert(code == 0, out.takeRight(20).mkString("\n"))
    assert(out.contains("[bcast] shared=true fresh=true sameTriples=true"),
      out.takeRight(20).mkString("\n"))
  }
}

/** Runs [[Pipeline.broadcastUmls]] across a SparkContext stop (PipelineSpec):
  * within a context every call returns one broadcast; after a stop the
  * next context gets a broadcast of its own, and runs on it give the
  * same triples.
  */
object BroadcastLifecycleMain {
  private def session(): org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder().master("local[2]").appName("bcast")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val s1 = session()
    val b1 = Pipeline.broadcastUmls(s1)
    val t1 = Pipeline.run(CorpusGen.pages(s1, 40))(s1).collect().map(_.toString).sorted.toVector
    val shared = Pipeline.broadcastUmls(s1) eq b1
    s1.stop()
    val s2 = session()
    val b2 = Pipeline.broadcastUmls(s2)
    val t2 = Pipeline.run(CorpusGen.pages(s2, 40))(s2).collect().map(_.toString).sorted.toVector
    println(s"[bcast] shared=$shared fresh=${!(b2 eq b1)} sameTriples=${t1 == t2}")
    s2.stop()
  }
}
