package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast

import graft.link.LinkOptions
import graft.pipeline.{DocTriples, Page, Pipeline}
import graft.umls.UmlsTables

/** Structured Streaming front-end for the KG pipeline.
  *
  * The reference's server mode (mmserver/mmserver.pl:1) is a per-request
  * RPC loop over the same core; re-expressed Spark-first that is a
  * streaming Dataset: readStream(pages) -> the identical per-document
  * kernel -> triples writeStream. All NLP state is document-local
  * (SURVEY §2.3: AAs never cross documents), so the stream is STATELESS —
  * no mapGroupsWithState needed; watermarking only governs lateness of the
  * per-window graph rollup.
  */
object StreamingPipeline {

  private val boundedRuns = new java.util.concurrent.atomic.AtomicLong

  /** Bounded micro-batch run for the driver gate: feed `nPages` of the
    * deterministic corpus through the REAL streaming query (MemoryStream
    * source -> memory sink) in two micro-batches, then return the sink
    * contents as a batch DataFrame. StreamingSpec pins streaming==batch
    * equality; this entry keeps the streaming subsystem visible in the
    * driver's hard signal (rows-only).
    */
  def runBounded(spark: SparkSession, nPages: Long, umls: Broadcast[UmlsTables]): DataFrame = {
    implicit val s: SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val stream = MemoryStream[Page]
    val name = s"kg_stream_gate_${boundedRuns.incrementAndGet()}"
    val q = triplesStream(stream.toDS(), umls).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    val pages = (0L until nPages).map(graft.corpus.CorpusGen.genPage(_)._1)
    val half = (nPages / 2).toInt
    stream.addData(pages.take(half))
    q.processAllAvailable()
    stream.addData(pages.drop(half))
    q.processAllAvailable()
    q.stop()
    spark.table(name).select("subj_cui", "pred", "obj_cui", "url", "sentNo")
  }

  /** Streaming triples: the sentence-window pair "join" never crosses a
    * document, so it runs inside the per-document operator, on the record
    * path of the batch run — no stream-stream join, no shuffle; the plan
    * stays map-side until the sink. Every row keeps its page's warc_ts.
    */
  def triplesStream(pages: Dataset[Page], umls: Broadcast[UmlsTables])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    Pipeline.perDocument(pages, umls)(Pipeline.pageText) { (p, text, t) =>
      DocTriples.fromText(p.url, text, t, LinkOptions.default)
        .iterator.map { case (s, r, o, url, sn) => (s, r, o, url, sn, p.warc_ts) }
    }.toDF("subj_cui", "pred", "obj_cui", "url", "sentNo", "warc_ts")
  }

  /** Exactly-once streaming ingestion into the IcebergLite layout: each
    * micro-batch commits through the snapshot writer into its own table
    * at root/batch-<id>, with the manifest as THE commit marker. Replay
    * semantics (restart after a crash anywhere in Structured Streaming's
    * at-least-once window):
    *  - earlier attempt fully committed (manifest present): write() resume
    *    makes the replay a no-op;
    *  - earlier attempt died before its manifest commit (orphan data, no
    *    manifest): write()'s orphan cleanup deletes what it left and the
    *    batch is rewritten — uncommitted data was never readable.
    * The checkpoint defaults to root/_checkpoint so batch ids stay
    * monotonic across restarts (a FRESH checkpoint against an existing
    * root would reuse batch ids for different data — callers overriding
    * checkpointLocation must keep it paired with the root for the table's
    * lifetime). Read the output with [[graft.graph.IcebergLite.readAll]].
    */
  def sinkStream(triples: DataFrame, root: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    triples
      .select("subj_cui", "pred", "obj_cui", "url", "sentNo")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Paths.get(root, "_checkpoint").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.graph.IcebergLite.write(batch,
          java.nio.file.Paths.get(root, s"batch-$batchId").toString)
        ()
      }

  /** Windowed graph rollup with a watermark: evidence counts per
    * (subj, pred, obj) per event-time hour, tolerating 10 minutes of
    * lateness (the streaming analogue of the batch graph materialization).
    */
  def graphRollup(triples: DataFrame): DataFrame =
    triples
      .withWatermark("warc_ts", "10 minutes")
      .groupBy(window(col("warc_ts"), "1 hour"),
        col("subj_cui"), col("pred"), col("obj_cui"))
      .agg(count(lit(1)).as("n_evidence"))

  /** Custom keyed state (flatMapGroupsWithState): emit each distinct
    * (subj, pred, obj) the FIRST time it is observed across the stream's
    * lifetime — the incremental "new knowledge" feed of the graph. State
    * per key is one boolean and the store shards by the triple key
    * across executors; hot triples cost one lookup per micro-batch
    * partition, not per row (rows for a key arrive grouped).
    *
    * DEPLOYMENT NOTE (state growth): lifetime first-seen state grows
    * with the DISTINCT-triple count and is never evicted
    * (GroupStateTimeout.NoTimeout — eviction would re-emit a triple as
    * "new"). The default HDFS-backed state store keeps each partition's
    * key map on the executor heap, so a long-running stream over a
    * billions-of-distinct-triples corpus must run with the RocksDB
    * state store (spark.sql.streaming.stateStore.providerClass =
    * RocksDBStateStoreProvider) — spilling state to local disk — and
    * enough shuffle partitions to shard it; with the heap-backed store
    * this operator is bounded-corpus only.
    */
  def firstSeenTriples(triples: DataFrame)(
      implicit spark: SparkSession): Dataset[(String, String, String)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    triples
      .select(col("subj_cui"), col("pred"), col("obj_cui"))
      .as[(String, String, String)]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, String, String), rows: Iterator[(String, String, String)],
         state: GroupState[Boolean]) => {
          rows.foreach(_ => ()) // drain
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(key) }
        })
  }
}
