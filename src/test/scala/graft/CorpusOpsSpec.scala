package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.ops.CorpusOps

/** Corpus-curation ops: PII scrubbing on crafted strings (the synthetic
  * corpus contains no PII, so the redaction mechanics need direct
  * exercise), quality-filter bucket boundaries, vocab determinism.
  */
class CorpusOpsSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("pii scrub: emails, phones, ssn become typed placeholders") {
    import spark.implicits._
    val df = Seq(
      ("contact me at jane.doe+spam@example.co.uk today", 1, "<EMAIL>"),
      ("call 555-123-4567 or 555.987.6543", 2, "<PHONE>"),
      ("ssn 123-45-6789 on file", 1, "<SSN>"),
      ("overlap: a@b.io then 111-22-3333 then 222-333-4444", 3, "<EMAIL>"),
      ("clean text with no pii at all", 0, "")
    ).toDF("text", "expect_n", "expect_token")
    val out = df.select(col("text"), col("expect_n"), col("expect_token"),
      CorpusOps.nRedactions(col("text")).as("n"),
      CorpusOps.scrubbed(col("text")).as("scrubbed")).collect()
    out.foreach { r =>
      assert(r.getAs[Int]("n") == r.getAs[Int]("expect_n"), r.toString)
      val tok = r.getAs[String]("expect_token")
      if (tok.nonEmpty) assert(r.getAs[String]("scrubbed").contains(tok), r.toString)
      // nothing PII-shaped survives scrubbing
      assert(CorpusOps.EmailRe.r.findFirstIn(r.getAs[String]("scrubbed")).isEmpty)
    }
  }

  test("quality filter: bucket boundaries and keep gate") {
    val rows = CorpusOps.docQualityFilter(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rep = r.getAs[Double]("rep_ratio")
      val bucket = r.getAs[String]("bucket")
      val expected = if (rep <= 0.6) "head" else if (rep <= 0.75) "middle" else "tail"
      assert(bucket == expected, r.toString)
      if (r.getAs[Boolean]("keep")) {
        assert(bucket != "tail" && r.getAs[Int]("n_tokens") >= 20 &&
          r.getAs[Double]("stop_ratio") <= 0.3)
      }
    }
    // the synthetic corpus's repetitive docs must actually exercise
    // more than one bucket, or the filter proves nothing
    assert(rows.map(_.getAs[String]("bucket")).distinct.length >= 2)
  }

  test("vocab: top-k deterministic with count-then-token ordering") {
    val rows = CorpusOps.corpusVocab(spark, sf).collect()
    val v1 = rows.map(_.toString).toVector
    val v2 = CorpusOps.corpusVocab(spark, sf).collect().map(_.toString).toVector
    assert(v1 == v2)
    assert(v1.nonEmpty && v1.length <= 100) // synthetic vocab is small
    val counts = rows.map(_.getAs[Long]("n")).toVector
    assert(counts == counts.sortBy(-_), "counts not non-increasing")
  }

  test("train split: deterministic, id-hash-stable, ~80/10/10") {
    import spark.implicits._
    val rows = CorpusOps.corpusTrainSplit(spark, sf)
      .as[(Long, String)].collect()
    // the assignment is a pure function of doc_id: recompute per-row
    val md = java.security.MessageDigest.getInstance("MD5")
    def expected(id: Long): String = {
      val h = md.digest(s"split:$id".getBytes("UTF-8"))
        .take(1).map(b => f"$b%02x").mkString
      if (h < "cc") "train" else if (h < "e6") "val" else "test"
    }
    rows.foreach { case (id, s) => assert(s == expected(id), s"doc $id") }
    val byS = rows.groupBy(_._2).view.mapValues(_.length.toDouble / rows.length)
    info(byS.toMap.toString)
    assert(byS("train") > 0.7 && byS("train") < 0.9)
  }

  test("decontaminate: benchmark-overlapping docs flagged, benchmark excluded") {
    import spark.implicits._
    val rows = CorpusOps.corpusDecontaminate(spark, sf)
      .as[(Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    // benchmark docs (id % 97 == 0) never appear in the output
    assert(rows.forall(_._1 % 97 != 0))
    // flag consistent with count; some of both classes on synthetic data
    assert(rows.forall { case (_, n, c) => c == (n >= 1) })
    info(s"${rows.count(_._3)} / ${rows.length} contaminated")
    // cross-check one contaminated doc by recomputing its 5-gram overlap
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    def grams(id: Long): Set[String] = {
      val t = docs(id).split(" ")
      if (t.length < 5) Set.empty
      else t.sliding(5).map(_.mkString(" ")).toSet
    }
    val bench = docs.keys.filter(_ % 97 == 0).flatMap(grams).toSet
    rows.find(_._3).foreach { case (id, n, _) =>
      assert((grams(id) & bench).size.toLong == n, s"doc $id")
    }
    rows.find(!_._3).foreach { case (id, _, _) =>
      assert((grams(id) & bench).isEmpty, s"doc $id")
    }
  }

  test("sampling plan: sqrt-temperature weights, deterministic inclusion") {
    import spark.implicits._
    val rows = CorpusOps.corpusSamplingPlan(spark, sf)
      .as[(Long, String, Long, Double, Boolean)].collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_._2)
    val nMax = bySource.values.map(_.head._3).max
    bySource.foreach { case (_, rs) =>
      val n = rs.head._3
      // weight = round(sqrt(n/nMax), 6), identical for every doc of the source
      assert(rs.forall(_._4 == BigDecimal(math.sqrt(n.toDouble / nMax))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      // the dominant source keeps everything
      if (n == nMax) assert(rs.forall(_._5))
      // sampled fraction tracks the weight (loose: md5 is uniform)
      val frac = rs.count(_._5).toDouble / rs.length
      assert(math.abs(frac - rs.head._4) < 0.15, s"frac $frac vs ${rs.head._4}")
    }
  }

  test("curation decision: keep == conjunction of the part signals") {
    import spark.implicits._
    val rows = CorpusOps.corpusCurationDecision(spark, sf)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, bench, q, c, s2, d, keep) =>
      assert(keep == (!bench && q && !c && s2 && d), s"doc $id")
      assert(bench == (id % 97 == 0))
      if (bench) assert(!c) // benchmark docs carry no contamination row
    }
    // the decision actually discriminates on the synthetic corpus, and
    // benchmark docs genuinely appear (with keep = false)
    assert(rows.exists(_._7) && rows.exists(!_._7))
    assert(rows.exists(_._2))
    assert(rows.filter(_._2).forall(!_._7))
    // part-consistency: quality_keep matches the standalone operator
    val q = CorpusOps.docQualityFilter(spark, sf)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    rows.foreach { case (id, _, qk, _, _, _, _) => assert(qk == q(id)) }
  }

  test("dedup canonical: exactly one representative per cluster, longest wins") {
    import spark.implicits._
    val rows = graft.ops.DocOps.dedupCanonical(spark, sf)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.count(_._4) == 1, s"cluster $cid")
      val kept = members.find(_._4).get
      // longest doc (tie: lowest id) is the representative
      val best = members.minBy(m => (-m._3, m._1))
      assert(kept._1 == best._1, s"cluster $cid kept ${kept._1} != ${best._1}")
    }
    // multi-member clusters exist on the synthetic corpus (near-dups seeded)
    assert(rows.groupBy(_._2).exists(_._2.length > 1))
  }

  test("snapshot versioning: held DataFrames survive a re-materialization") {
    // a consumer's plan captures the snapshot's parquet file listing at
    // read time; re-materializing the same snapshot must write a NEW
    // versioned directory so the old plan stays evaluable (an in-place
    // overwrite would delete the files under it -> FileNotFoundException)
    val held = graft.ops.CorpusOps.corpusCurationDecision(spark, sf)
    val before = held.count()
    // the owning query entries re-materialize their snapshots
    graft.ops.DocOps.dedupCcClusters(spark, sf).count()
    graft.ops.CorpusOps.corpusDecontaminate(spark, sf).count()
    // the held plan still evaluates, and to the same rows
    assert(held.count() == before)
  }

  test("snapshot store: a fresh session recomputes, never adopts; bounded GC") {
    import graft.ops.SnapshotCache
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_snapcorpus").toFile
    val sfDir = tmp.getAbsolutePath
    val corpusBase = new java.io.File(SnapshotCache.baseFor(sfDir, "t")).getParentFile
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getInt(0)).sorted.toVector
    try {
      var computes = 0
      def computeA() = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
      def computeB() = { computes += 1; Seq((3, "c")).toDF("id", "v") }
      assert(ids(SnapshotCache.materialize(spark, sfDir, "t")(computeA())) == Vector(1, 2))
      // within the session, consumers read the current version
      assert(ids(SnapshotCache.ensure(spark, sfDir, "t")(computeB())) == Vector(1, 2))
      assert(computes == 1)
      // a FRESH session (simulated by forgetting this JVM's version) runs
      // its own compute: the rows on disk may come from an older build
      SnapshotCache.resetForTest(sfDir, "t")
      val fresh = SnapshotCache.ensure(spark, sfDir, "t")(computeB())
      assert(computes == 2, "a fresh session's ensure must recompute, not adopt")
      assert(ids(fresh) == Vector(3))
      // repeated re-materialization keeps at most TWO versions on disk
      // (current + previous for held-DataFrame safety)
      (1 to 4).foreach(_ => SnapshotCache.materialize(spark, sfDir, "t")(computeA()))
      val base = new java.io.File(SnapshotCache.baseFor(sfDir, "t"))
      val vDirs = base.listFiles().filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      assert(vDirs.length == 2, vDirs.map(_.getName).mkString(","))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(corpusBase)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
  }
}
