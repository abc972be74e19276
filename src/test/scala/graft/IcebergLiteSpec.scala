package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.graph.IcebergLite
import graft.pipeline.Pipeline

/** Checkpoint-resume semantics of the Iceberg-style triple sink. */
class IcebergLiteSpec extends AnyFunSuite with SparkTestBase {

  private def tmpDir(): Path = Files.createTempDirectory("graft_iceberg")
  private def rm(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  test("write + read roundtrip with per-partition metrics") {
    implicit val s = spark
    val root = tmpDir().toString
    val triples = Pipeline.run(CorpusGen.pages(spark, 150))
    val expected = triples.count()
    val snap = IcebergLite.write(triples, root)
    assert(snap.snapshotId == 1)
    assert(snap.partitions.map(_.rows).sum == expected)
    val back = IcebergLite.read(spark, root)
    assert(back.count() == expected)
    // every manifest metric equals the same aggregate over the read-back
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min}
    val fromData = back.groupBy(col("part_bucket"))
      .agg(count(lit(1)), countDistinct(col("subj_cui")), min(col("subj_cui")), max(col("subj_cui")))
      .collect().toVector
      .map(r => IcebergLite.PartitionMeta(r.getInt(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))
      .sortBy(_.bucket)
    assert(snap.partitions.nonEmpty)
    assert(snap.partitions == fromData)
    rm(java.nio.file.Paths.get(root))
  }

  test("write rejects input whose columns are not the five triple columns") {
    implicit val s = spark
    import s.implicits._
    val root = tmpDir()
    val ok = Seq(("C1", "treats", "C2", "u", 0)).toDF("subj_cui", "pred", "obj_cui", "url", "sentNo")
    val bad = Seq(
      ok.withColumn("extra", org.apache.spark.sql.functions.lit(1)),
      ok.drop("url"),
      ok.withColumn("sentNo", ok("sentNo").cast("long")),
      ok.withColumnRenamed("pred", "predicate"))
    bad.foreach { df =>
      val e = intercept[IllegalArgumentException](IcebergLite.write(df, root.toString))
      assert(e.getMessage.contains("subj_cui"), e.getMessage)
    }
    // nothing was written or committed
    assert(!Files.exists(root.resolve("data")) && !Files.exists(root.resolve("_manifest")))
    rm(root)
  }

  test("resume: a second write with the same input is a no-op") {
    implicit val s = spark
    val root = tmpDir().toString
    val triples = Pipeline.run(CorpusGen.pages(spark, 150))
    val s1 = IcebergLite.write(triples, root)
    val s2 = IcebergLite.write(triples, root)
    assert(s2.snapshotId == 2)
    assert(s2.partitions == s1.partitions) // nothing re-committed
    assert(IcebergLite.read(spark, root).count() == triples.count())
    rm(java.nio.file.Paths.get(root))
  }

  test("time travel: readAsOf(snapshot k) returns the table state at k") {
    implicit val s = spark
    val root = tmpDir().toString
    val all = Pipeline.run(CorpusGen.pages(spark, 150)).cache()
    // snapshot 1 commits exactly the lower half of the bucket space (the
    // same subj_cui hash the writer buckets by), snapshot 2 the rest
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val part = all.filter(pmod(xxhash64(col("subj_cui")), lit(32)) < 16)
    val s1 = IcebergLite.write(part, root)
    val s2 = IcebergLite.write(all, root)
    assert(s1.snapshotId == 1 && s2.snapshotId == 2)
    val atS1 = IcebergLite.readAsOf(spark, root, Some(1)).count()
    val atS2 = IcebergLite.readAsOf(spark, root, Some(2)).count()
    val latest = IcebergLite.read(spark, root).count()
    assert(atS2 == latest)
    assert(atS1 < atS2, s"$atS1 vs $atS2")
    assert(atS1 == s1.partitions.map(_.rows).sum)
    intercept[IllegalArgumentException] {
      IcebergLite.readAsOf(spark, root, Some(99))
    }
    all.unpersist()
    rm(java.nio.file.Paths.get(root))
  }

  test("resume: only missing buckets are recomputed after partial commit") {
    implicit val s = spark
    val root = tmpDir().toString
    val triples = Pipeline.run(CorpusGen.pages(spark, 150)).cache()
    val full = IcebergLite.write(triples, root)
    val totalRows = full.partitions.map(_.rows).sum

    // simulate a crash that committed only half the buckets: rewrite the
    // manifest with the even buckets and delete the odd bucket dirs
    val kept = full.partitions.filter(_.bucket % 2 == 0)
    val dropped = full.partitions.filterNot(_.bucket % 2 == 0)
    rm(java.nio.file.Paths.get(root, "_manifest"))
    Files.createDirectories(java.nio.file.Paths.get(root, "_manifest"))
    val partial = IcebergLite.Snapshot(1, kept)
    // reuse the writer's own rendering by writing through a fresh write of
    // an empty df is not possible; render manually via the public API:
    val json = s"""{"snapshot_id":1,"partitions":[${kept.map(p =>
      s"""{"bucket":${p.bucket},"rows":${p.rows},"n_subj_cuis":${p.nSubjCuis},""" +
        s""""min_subj":"${p.minSubj}","max_subj":"${p.maxSubj}"}""").mkString(",")}]}"""
    Files.write(java.nio.file.Paths.get(root, "_manifest", "snapshot-1.json"),
      json.getBytes("UTF-8"))
    dropped.foreach { p =>
      rm(java.nio.file.Paths.get(root, "data", s"part_bucket=${p.bucket}"))
    }

    val resumed = IcebergLite.write(triples, root)
    assert(resumed.snapshotId == 2)
    assert(resumed.partitions.map(_.rows).sum == totalRows)
    assert(IcebergLite.read(spark, root).count() == totalRows)
    // the resumed snapshot's partition set equals the full one
    assert(resumed.partitions.sortBy(_.bucket) == full.partitions.sortBy(_.bucket))
    locally(partial)
    triples.unpersist()
    rm(java.nio.file.Paths.get(root))
  }

  test("crash between append and manifest: orphaned buckets self-heal, no duplicates") {
    implicit val s = spark
    val root = tmpDir().toString
    val triples = Pipeline.run(CorpusGen.pages(spark, 150)).cache()
    val total = triples.count()
    // simulate the crash: the append job committed its parquet but the
    // manifest write never happened (no _manifest at all)
    IcebergLite.write(triples, root)
    rm(java.nio.file.Paths.get(root, "_manifest"))
    // the retry must DELETE the orphaned bucket data before appending,
    // or every row would be counted twice by the metrics scan
    val retried = IcebergLite.write(triples, root)
    assert(retried.partitions.map(_.rows).sum == total)
    assert(IcebergLite.read(spark, root).count() == total)
    triples.unpersist()
    rm(java.nio.file.Paths.get(root))
  }

  test("empty committed table reads as an empty view, never throws") {
    implicit val s = spark
    import s.implicits._
    val root = tmpDir().toString
    val empty = Seq.empty[(String, String, String, String, Int)]
      .toDF("subj_cui", "pred", "obj_cui", "url", "sentNo")
    val snap = IcebergLite.write(empty, root)
    assert(snap.partitions.isEmpty)
    assert(IcebergLite.read(spark, root).count() == 0L)
    assert(IcebergLite.readAsOf(spark, root, Some(snap.snapshotId)).count() == 0L)
    rm(java.nio.file.Paths.get(root))
  }

  test("readAll tolerates stray non-numeric batch-* directories") {
    implicit val s = spark
    val root = tmpDir()
    val triples = Pipeline.run(CorpusGen.pages(spark, 100))
    val n = triples.count()
    IcebergLite.write(triples, root.resolve("batch-0").toString)
    Files.createDirectories(root.resolve("batch-tmp")) // operator residue
    assert(IcebergLite.readAll(spark, root.toString).count() == n)
    rm(root)
  }
}
