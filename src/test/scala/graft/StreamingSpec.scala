package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.pipeline.{Page, Pipeline}
import graft.streaming.StreamingPipeline

/** Structured Streaming front-end: the streaming triple extraction must
  * agree with the batch path on the same pages.
  */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  test("streaming triples == batch triples on the same micro-batched pages") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import s.implicits._

    val pagesVec = (0L until 60L).map(CorpusGen.genPage(_)._1)
    val stream = MemoryStream[Page]
    val umls = Pipeline.broadcastUmls(spark)
    val triples = StreamingPipeline.triplesStream(stream.toDS(), umls)

    val q = triples.writeStream
      .format("memory").queryName("t_stream").outputMode("append").start()
    stream.addData(pagesVec.take(30))
    q.processAllAvailable()
    stream.addData(pagesVec.drop(30))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("t_stream")
      .select("subj_cui", "pred", "obj_cui", "url", "sentNo")
      .collect().map(_.toString).sorted.toVector
    val batch = Pipeline.run(CorpusGen.pages(spark, 60))
      .collect().map(_.toString).sorted.toVector
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("flatMapGroupsWithState: each distinct triple emitted exactly once") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import s.implicits._
    val stream = MemoryStream[Page]
    val umls = Pipeline.broadcastUmls(spark)
    val firstSeen = StreamingPipeline.firstSeenTriples(
      StreamingPipeline.triplesStream(stream.toDS(), umls))
    val q = firstSeen.writeStream
      .format("memory").queryName("fs_stream").outputMode("append").start()
    val pagesVec = (0L until 40L).map(CorpusGen.genPage(_)._1)
    stream.addData(pagesVec.take(20))
    q.processAllAvailable()
    val afterFirst = spark.table("fs_stream").count()
    // re-send the SAME pages: no new distinct triples may appear
    stream.addData(pagesVec.take(20))
    q.processAllAvailable()
    assert(spark.table("fs_stream").count() == afterFirst)
    // new pages may add new triples; output stays distinct
    stream.addData(pagesVec.drop(20))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("fs_stream").collect().map(_.toString).toVector
    assert(rows.distinct.size == rows.size)
    assert(rows.size >= afterFirst)
    // and it equals the set of distinct batch triples over the same pages
    val batch = Pipeline.run(CorpusGen.pages(spark, 40))
      .select("subj_cui", "pred", "obj_cui").distinct()
      .collect().map(_.toString).toVector
    assert(rows.toSet == batch.toSet)
  }

  test("streaming sink: exactly-once into IcebergLite, replay-idempotent") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val pagesVec = (0L until 60L).map(CorpusGen.genPage(_)._1)
    // a dead earlier attempt of batch 0 left files but no manifest: an
    // uncommitted bucket dir and a committed task in the committer's
    // staging dir. The batch's write must drop both.
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_scratch")
    graft.graph.IcebergLite.write(Pipeline.run(spark.createDataset(pagesVec.take(30))),
      scratch.toString)
    Leftovers.plant(scratch, java.nio.file.Paths.get(root, "batch-0", "data"), bucketDir = true)
    val stream = MemoryStream[Page]
    val umls = Pipeline.broadcastUmls(spark)
    val triples = StreamingPipeline.triplesStream(stream.toDS(), umls)
    val q = StreamingPipeline.sinkStream(triples, root).start()
    stream.addData(pagesVec.take(30))
    q.processAllAvailable()
    stream.addData(pagesVec.drop(30))
    q.processAllAvailable()
    q.stop()
    val expected = Pipeline.run(CorpusGen.pages(spark, 60)).count()
    assert(graft.graph.IcebergLite.readAll(spark, root).count() == expected)
    // crash-replay simulation: re-committing batch 0's data into its own
    // table is a no-op (every bucket already committed)
    val batch0 = pagesVec.take(30)
    val replay = Pipeline.run(spark.createDataset(batch0))
    graft.graph.IcebergLite.write(replay,
      java.nio.file.Paths.get(root, "batch-0").toString)
    assert(graft.graph.IcebergLite.readAll(spark, root).count() == expected)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
  }

  test("windowed graph rollup with watermark runs in append mode") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import s.implicits._
    val stream = MemoryStream[Page]
    val umls = Pipeline.broadcastUmls(spark)
    val rollup = StreamingPipeline.graphRollup(
      StreamingPipeline.triplesStream(stream.toDS(), umls))
    val q = rollup.writeStream
      .format("memory").queryName("g_stream").outputMode("append").start()
    stream.addData((0L until 40L).map(CorpusGen.genPage(_)._1))
    q.processAllAvailable()
    // advance event time far enough to close the watermark window; the
    // watermark updates after the batch, so a second batch flushes the
    // closed windows
    stream.addData(Seq(CorpusGen.genPage(4)._1.copy(
      url = "late", warc_ts = new java.sql.Timestamp(1700000000000L + 86400000L))))
    q.processAllAvailable()
    stream.addData(Seq(CorpusGen.genPage(4)._1.copy(
      url = "late2", warc_ts = new java.sql.Timestamp(1700000000000L + 2 * 86400000L))))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("g_stream").count() > 0)
  }
}
