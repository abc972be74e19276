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
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    // every manifest metric equals the same aggregate over the read-back,
    // and the committed manifest reads back as the returned snapshot
    def check(snap: IcebergLite.Snapshot, root: String): Vector[IcebergLite.PartitionMeta] = {
      val fromData = TableMetrics.of(IcebergLite.read(spark, root))
      assert(snap.partitions.nonEmpty)
      assert(snap.partitions == fromData)
      assert(IcebergLite.latestSnapshot(root).contains(snap))
      fromData
    }

    val root = tmpDir().toString
    val triples = Pipeline.run(CorpusGen.pages(spark, 150))
    val expected = triples.count()
    val snap = IcebergLite.write(triples, root)
    assert(snap.snapshotId == 1)
    assert(snap.partitions.map(_.rows).sum == expected)
    assert(IcebergLite.read(spark, root).count() == expected)
    check(snap, root)
    rm(java.nio.file.Paths.get(root))

    // subjects whose UTF-16 and UTF-8 orders differ (U+FF21 sorts above a
    // surrogate pair in UTF-16, below it in UTF-8), null subjects, and a
    // resume write over the buckets a first write committed
    val odd = spark.sparkContext.parallelize(
      (0 until 48).flatMap(i => Seq(s"\uFF21$i", s"\uD83D\uDE00$i", f"C$i%07d")) ++
        Seq("\uFF21", "\uD83D\uDE00", null, null), 4)
      .map(subj => (subj, "treats", "C0000001", "u", 0))
      .toDF("subj_cui", "pred", "obj_cui", "url", "sentNo")
    val oddRoot = tmpDir().toString
    val first = IcebergLite.write(
      odd.filter(pmod(xxhash64(col("subj_cui")), lit(32)) < 16), oddRoot)
    assert(first.partitions.map(_.bucket).forall(_ < 16))
    val resumed = IcebergLite.write(odd, oddRoot)
    assert(resumed.partitions.take(first.partitions.length) == first.partitions)
    assert(resumed.partitions.map(_.rows).sum == odd.count())
    val oddMetrics = check(resumed, oddRoot)
    // the two null subjects are the only repeated ones
    assert(oddMetrics.count(m => m.rows > m.nSubjCuis) == 1)
    // the case has teeth: in some bucket the UTF-16 order picks another
    // min or max than Spark's UTF-8 order
    val bySubj = IcebergLite.read(spark, oddRoot).as[(String, String, String, String, Int, Int)]
      .collect().toVector.filter(_._1 != null).groupBy(_._6)
    assert(oddMetrics.exists { m =>
      val subs = bySubj(m.bucket).map(_._1)
      subs.min != m.minSubj || subs.max != m.maxSubj
    })
    rm(java.nio.file.Paths.get(oddRoot))
  }

  test("manifest strings round-trip: quotes, backslashes, control chars, non-ASCII, null") {
    implicit val s = spark
    import s.implicits._
    val subjects = Seq("C2", "C\"9", "C3", "C\\4", "C\u00015", "C\u00e96", "C\u65e57",
      "\uD83D\uDE008", "C\"\\\"9", null)
    val rows = subjects.map(subj => (subj, "treats", "C0000001", "u", 0))
    val input = rows.toDF("subj_cui", "pred", "obj_cui", "url", "sentNo")
    val root = tmpDir().toString
    val snap = IcebergLite.write(input, root)
    assert(IcebergLite.latestSnapshot(root).contains(snap))
    // the null subject has a bucket of its own: its min/max are null
    assert(snap.partitions.exists(p => p.minSubj == null && p.maxSubj == null))
    def back = IcebergLite.read(spark, root).select("subj_cui", "pred", "obj_cui", "url", "sentNo")
      .as[(String, String, String, String, Int)].collect().toSet
    assert(back == rows.toSet)
    // a second write sees every bucket committed: nothing is dropped as
    // an orphan, every row stays
    val again = IcebergLite.write(input, root)
    assert(again.partitions == snap.partitions)
    assert(IcebergLite.latestSnapshot(root).contains(again))
    assert(back == rows.toSet)
    rm(java.nio.file.Paths.get(root))
  }

  test("metrics are exact under a task retry (local[2,2], one injected failure)") {
    val (code, out) = ChildJvm.run("graft.TallyRetryMain")
    assert(code == 0, out.takeRight(20).mkString("\n"))
    assert(out.contains("[tally] failedAttempts=1 equalsClean=true equalsData=true"),
      out.takeRight(20).mkString("\n"))
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
    // or every row would be read back twice
    val retried = IcebergLite.write(triples, root)
    assert(retried.partitions.map(_.rows).sum == total)
    assert(IcebergLite.read(spark, root).count() == total)
    triples.unpersist()
    rm(java.nio.file.Paths.get(root))
  }

  test("crash between task and job commit: the committer's staged files never reach the table") {
    implicit val s = spark
    val triples = Pipeline.run(CorpusGen.pages(spark, 150)).cache()
    val total = triples.count()
    val scratch = tmpDir()
    IcebergLite.write(triples, scratch.toString)
    // the job died after one task commit: its file waits in the output
    // committer's staging dir, where the next job commit would merge it
    val root = tmpDir()
    Leftovers.plant(scratch, root.resolve("data"), bucketDir = false)
    val snap = IcebergLite.write(triples, root.toString)
    assert(snap.partitions.map(_.rows).sum == total)
    assert(IcebergLite.read(spark, root.toString).count() == total)
    triples.unpersist()
    rm(scratch)
    rm(root)
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

/** What a write job killed before its manifest commit leaves in a
  * table's data dir (IcebergLiteSpec, StreamingSpec): one parquet file of
  * the table at `from`, in the output committer's staging dir as a
  * committed task's output and, with `bucketDir`, in its bucket dir.
  */
object Leftovers {
  def plant(from: Path, dataDir: Path, bucketDir: Boolean): Unit = {
    val bucket = from.resolve("data").toFile.listFiles()
      .filter(_.getName.startsWith("part_bucket=")).minBy(_.getName)
    val file = bucket.listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName).toPath
    def put(dir: Path): Unit = {
      Files.createDirectories(dir)
      Files.copy(file, dir.resolve(file.getFileName))
    }
    put(dataDir.resolve("_temporary/0/task_202601010000_0001_m_000000").resolve(bucket.getName))
    if (bucketDir) put(dataDir.resolve(bucket.getName))
  }
}

/** The per-bucket metrics a manifest must hold, aggregated by Spark over
  * a read-back table.
  */
object TableMetrics {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min}

  def of(back: DataFrame): Vector[IcebergLite.PartitionMeta] =
    back.groupBy(col("part_bucket"))
      .agg(count(lit(1)), countDistinct(col("subj_cui")), min(col("subj_cui")), max(col("subj_cui")))
      .collect().toVector
      .map(r => IcebergLite.PartitionMeta(r.getInt(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))
      .sortBy(_.bucket)
}

/** Writes one input twice at local[2,2] (IcebergLiteSpec): once cleanly,
  * once with attempt 0 of partition 1 failing after it has emitted rows.
  * The retried write's manifest must equal the clean one's and the
  * read-back aggregate: a failed attempt's partial tally never counts.
  */
object TallyRetryMain {
  import org.apache.spark.TaskContext
  import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
  import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
  import org.apache.spark.sql.types.StructType

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2,2]").appName("tally-retry")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    val failed = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (!e.taskInfo.successful) failed.incrementAndGet()
    })
    val schema = StructType.fromDDL(
      "subj_cui STRING, pred STRING, obj_cui STRING, url STRING, sentNo INT")
    def input(inject: Boolean): DataFrame =
      spark.range(0, 4000, 1, 4).mapPartitions { ids =>
        val ctx = TaskContext.get()
        val rows = ids.map { i =>
          val subj = if (i % 97 == 0) null else f"C${i % 700}%07d"
          Row(subj, "treats", "C0000001", s"u$i", (i % 5).toInt)
        }
        if (inject && ctx.partitionId == 1 && ctx.attemptNumber == 0)
          rows.take(300) ++ Iterator.fill(1)(
            throw new IllegalStateException("injected failure of attempt 0"))
        else rows
      }(Encoders.row(schema))
    val work = java.nio.file.Files.createTempDirectory("graft_tally_retry")
    val clean = IcebergLite.write(input(inject = false), work.resolve("clean").toString)
    val retried = IcebergLite.write(input(inject = true), work.resolve("retried").toString)
    val data = TableMetrics.of(IcebergLite.read(spark, work.resolve("retried").toString))
    println(s"[tally] failedAttempts=${failed.get} equalsClean=${retried.partitions == clean.partitions} " +
      s"equalsData=${retried.partitions == data}")
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }
}
