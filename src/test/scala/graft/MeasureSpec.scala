package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Measure

class MeasureSpec extends AnyFunSuite with SparkTestBase {

  test("scale levels: N -> 4N follows the core count") {
    assert(Seq(1, 2, 4, 6, 32).map(Measure.scaleLevels) ==
      Seq((1, 1), (1, 2), (1, 4), (1, 4), (8, 32)))
  }

  test("queries: plan files, the inner minhash compute, stage rows per run") {
    val out = Files.createTempDirectory("measure")
    // a listener slow to take its events makes the bus lag behind the
    // actions: stage rows land in their own run only if the tool drains
    // the bus before it reads its log
    val slow = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(50)
    }
    spark.sparkContext.addSparkListener(slow)
    try Measure.queries(spark, "/root/testdata/sf0.001", out,
      Seq("dedup_minhash_lsh", "q01_pricing_summary"))
    finally spark.sparkContext.removeSparkListener(slow)

    val minhash = Files.readString(out.resolve("dedup_minhash_lsh.txt"))
    assert(minhash.contains("== Physical Plan =="))
    // the inner compute over the documents, not the snapshot parquet read
    assert(minhash.contains("documents"))
    assert(!minhash.contains("graft_snapshot"))
    assert(Files.readString(out.resolve("q01_pricing_summary.txt")).contains("Scan parquet"))

    val root = new ObjectMapper().readTree(out.resolve("measure.json").toFile)
    assert(root.get("cores").asInt == spark.sparkContext.defaultParallelism)
    val queries = root.get("queries").elements.asScala.toVector
    assert(queries.map(_.get("query").asText) == Vector("dedup_minhash_lsh", "q01_pricing_summary"))
    val runs = queries.flatMap(_.get("runs").elements.asScala)
    assert(runs.size == 2 * Measure.Runs)
    val stagesPerRun = runs.map { r =>
      val jobs = r.get("job_ids").elements.asScala.map(_.asInt).toSet
      val rows = r.get("stage_rows").elements.asScala.toVector
      assert(jobs.nonEmpty && jobs.size == r.get("jobs").asInt)
      assert(rows.nonEmpty && rows.size == r.get("stages").asInt)
      assert(rows.map(_.get("tasks").asInt).sum == r.get("tasks").asInt)
      // every stage row belongs to one of this run's own jobs
      rows.foreach(s => assert(jobs.contains(s.get("job").asInt), s"foreign stage row $s"))
      rows.map(_.get("stage").asInt).toSet
    }
    // and no stage is counted by two runs
    assert(stagesPerRun.map(_.size).sum == stagesPerRun.flatten.toSet.size)
  }
}
