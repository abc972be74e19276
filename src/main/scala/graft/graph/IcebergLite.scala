package graft.graph

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Iceberg-style partitioned table layout with snapshot manifests and
  * per-partition lineage/metrics rows enabling checkpoint-resume
  * (north_rule). No Iceberg jars ship in this environment (SURVEY.md §7
  * constraint), so the layout is implemented directly; the writer API is
  * deliberately thin so a real Iceberg catalog can be swapped in.
  *
  * Layout:
  * {{{
  *   root/data/part_bucket=N/  (parquet)   // bucket(subj_cui, nBuckets)
  *   root/_manifest/snapshot-k.json        // committed buckets + metrics
  * }}}
  *
  * Commit protocol: a snapshot lists every committed bucket with its row
  * count and lineage stats. `write` skips buckets already committed by the
  * latest snapshot — re-running a partially-failed job resumes from the
  * checkpoint and only computes the missing partitions (idempotent
  * re-commit per partition, the batch-incrementality the reference lacks).
  */
object IcebergLite {

  final case class PartitionMeta(bucket: Int, rows: Long, nSubjCuis: Long,
      minSubj: String, maxSubj: String)

  final case class Snapshot(snapshotId: Int, partitions: Vector[PartitionMeta])

  private def manifestDir(root: String) = Paths.get(root, "_manifest")

  /** The table's own schema: the five triple columns, then the bucket.
    * Reads pass it to the parquet source, which then skips its footer
    * inference job.
    */
  private val TableSchema = StructType.fromDDL(
    "subj_cui STRING, pred STRING, obj_cui STRING, url STRING, sentNo INT, part_bucket INT")

  private val TripleColumns = TableSchema.fields.init.map(f => f.name -> f.dataType).toSeq

  private def scan(spark: SparkSession, dataDir: Path): DataFrame =
    spark.read.schema(TableSchema).parquet(dataDir.toString)

  /** Whether a table's data dir holds any parquet file (bucket dirs are
    * one level down).
    */
  private def hasParquet(dataDir: Path): Boolean =
    Files.isDirectory(dataDir) && {
      val walk = Files.walk(dataDir, 2)
      try walk.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
      finally walk.close()
    }

  def latestSnapshot(root: String): Option[Snapshot] = {
    val dir = manifestDir(root)
    if (!Files.isDirectory(dir)) return None
    val stream = Files.list(dir)
    // close the directory stream: a long-running streaming driver calls
    // this once per micro-batch and leaked handles eventually exhaust
    // the fd ulimit
    val snaps =
      try stream.iterator().asScala
        .filter(_.getFileName.toString.startsWith("snapshot-")).toVector
      finally stream.close()
    if (snaps.isEmpty) None
    else {
      val latest = snaps.maxBy(p =>
        p.getFileName.toString.stripPrefix("snapshot-").stripSuffix(".json").toInt)
      Some(parseSnapshot(new String(Files.readAllBytes(latest), StandardCharsets.UTF_8)))
    }
  }

  // minimal JSON (de)serialization — the manifest schema is ours
  private def renderSnapshot(s: Snapshot): String = {
    val parts = s.partitions.map(p =>
      s"""{"bucket":${p.bucket},"rows":${p.rows},"n_subj_cuis":${p.nSubjCuis},""" +
        s""""min_subj":"${p.minSubj}","max_subj":"${p.maxSubj}"}""").mkString(",")
    s"""{"snapshot_id":${s.snapshotId},"partitions":[$parts]}"""
  }

  private def parseSnapshot(json: String): Snapshot = {
    val id = """"snapshot_id":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt).getOrElse(0)
    val part = ("""\{"bucket":(\d+),"rows":(\d+),"n_subj_cuis":(\d+),""" +
      """"min_subj":"([^"]*)","max_subj":"([^"]*)"\}""").r
    val ps = part.findAllMatchIn(json).map(m =>
      PartitionMeta(m.group(1).toInt, m.group(2).toLong, m.group(3).toLong,
        m.group(4), m.group(5))).toVector
    Snapshot(id, ps)
  }

  /** Write `triples` (columns subj_cui, pred, obj_cui, url, sentNo) to the
    * table at `root`, bucketed on subj_cui. Buckets already committed in
    * the latest snapshot are skipped (checkpoint-resume). Returns the new
    * snapshot. Any other input columns are rejected before anything is
    * written: reads use the fixed table schema, so an extra or retyped
    * column would be dropped silently.
    */
  def write(triples: DataFrame, root: String, nBuckets: Int = 32): Snapshot = {
    val got = triples.schema.fields.map(f => f.name -> f.dataType).toSeq
    require(got == TripleColumns,
      s"IcebergLite.write takes the columns ${TripleColumns.mkString(", ")}, got ${got.mkString(", ")}")
    val spark = triples.sparkSession
    val prev = latestSnapshot(root)
    val committed = prev.map(_.partitions.map(_.bucket).toSet).getOrElse(Set.empty)
    val dataDir = Paths.get(root, "data")

    def commit(metrics: Vector[PartitionMeta]): Snapshot = {
      val snap = Snapshot(prev.map(_.snapshotId).getOrElse(0) + 1,
        (prev.map(_.partitions).getOrElse(Vector.empty) ++ metrics).sortBy(_.bucket))
      Files.createDirectories(manifestDir(root))
      // write-temp + ATOMIC_MOVE: a crash mid-write must never leave a
      // truncated-but-regex-parseable manifest (it would under-list the
      // committed buckets and defeat the orphan cleanup on replay)
      val target = manifestDir(root).resolve(s"snapshot-${snap.snapshotId}.json")
      val tmp = manifestDir(root).resolve(s".snapshot-${snap.snapshotId}.json.tmp")
      Files.write(tmp, renderSnapshot(snap).getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      snap
    }

    // every possible bucket already committed: resume is a metadata-only
    // no-op — the input is never scanned
    if (committed.size >= nBuckets) return commit(Vector.empty)

    // self-heal orphaned buckets: a crash between a successful append
    // job and the manifest write leaves data for buckets the manifest
    // never committed; retrying without cleanup would append a SECOND
    // copy of those rows (metrics then scan both). Before writing,
    // delete any bucket directory on disk that is not committed — all
    // legitimately-present data is, by construction.
    {
      if (Files.isDirectory(dataDir)) {
        val stream = Files.list(dataDir)
        val orphans =
          try stream.iterator().asScala.filter { d =>
            val n = d.getFileName.toString
            n.startsWith("part_bucket=") &&
              scala.util.Try(n.stripPrefix("part_bucket=").toInt).toOption
                .exists(b => !committed.contains(b))
          }.toVector
          finally stream.close()
        orphans.foreach { d =>
          val walk = Files.walk(d)
          try walk.iterator().asScala.toVector.reverseIterator
            .foreach(Files.deleteIfExists(_))
          finally walk.close()
        }
      }
    }

    val bucketed = triples.withColumn("part_bucket",
      pmod(xxhash64(col("subj_cui")), lit(nBuckets)).cast("int"))
    val todo = if (committed.isEmpty) bucketed
      else bucketed.filter(!col("part_bucket").isin(committed.toSeq: _*))

    // SINGLE execution of the input: write first, then derive the
    // per-partition lineage/metrics from the just-written parquet — a
    // cheap columnar re-scan of only the new buckets (partition-pruned),
    // instead of aggregating the (possibly very expensive) input plan a
    // second time. At 100 TB the input here is the full kernel pipeline;
    // running it twice would double the most expensive job in the system.
    todo.write.options(LocalFs.writerOptions).mode("append").partitionBy("part_bucket")
      .parquet(dataDir.toString)

    // first-ever write of an empty input leaves only _SUCCESS behind —
    // checked EXPLICITLY (a broad AnalysisException catch here would turn
    // any unrelated read failure into an empty snapshot that orphans the
    // just-written buckets and duplicates them on the next write)
    val metrics =
      if (!hasParquet(dataDir)) Vector.empty[PartitionMeta]
      else {
        val written = scan(spark, dataDir)
        val fresh = if (committed.isEmpty) written
          else written.filter(!col("part_bucket").isin(committed.toSeq: _*))
        fresh.groupBy(col("part_bucket"))
          .agg(count(lit(1)).as("rows"), countDistinct(col("subj_cui")).as("n_subj"),
            min(col("subj_cui")).as("min_subj"), max(col("subj_cui")).as("max_subj"))
          .collect()
          .map(r => PartitionMeta(r.getInt(0), r.getLong(1), r.getLong(2),
            r.getString(3), r.getString(4)))
          .toVector.sortBy(_.bucket)
      }

    commit(metrics)
  }

  /** Union-read every per-batch table under `root` (the streaming layout
    * [[graft.streaming.StreamingPipeline.sinkStream]] writes: one table
    * per micro-batch at root/batch-<id>). Committed buckets only, as
    * always.
    */
  def readAll(spark: SparkSession, root: String): DataFrame = {
    val dirs = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("batch-\\d+"))
      .sortBy(_.getName.stripPrefix("batch-").toLong) // numeric: batch-10 > batch-2
      // an all-non-English micro-batch commits an EMPTY snapshot whose data
      // dir has no parquet to infer a schema from — skip, don't poison
      .filter(d => latestSnapshot(d.getPath).exists(_.partitions.nonEmpty))
    require(dirs.nonEmpty, s"no non-empty committed batch-* tables under $root")
    dirs.map(d => read(spark, d.getPath)).reduce(_.unionByName(_))
  }

  /** Load one specific snapshot's manifest (time travel). */
  def snapshot(root: String, id: Int): Option[Snapshot] = {
    val p = manifestDir(root).resolve(s"snapshot-$id.json")
    if (!Files.exists(p)) None
    else Some(parseSnapshot(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
  }

  /** Read back only the buckets the latest snapshot committed (a reader
    * never sees a half-written partition).
    */
  def read(spark: SparkSession, root: String): DataFrame =
    readAsOf(spark, root, None)

  /** Time travel: read the table as of snapshot `asOfSnapshot` (None =
    * latest). Buckets are committed at most once (resume skips committed
    * ones), so the bucket set of snapshot k IS the table state at k —
    * the Iceberg snapshot-isolation read, without the catalog.
    */
  def readAsOf(spark: SparkSession, root: String, asOfSnapshot: Option[Int]): DataFrame = {
    val snap = asOfSnapshot match {
      case Some(id) => snapshot(root, id).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $id at $root"))
      case None => latestSnapshot(root).getOrElse(Snapshot(0, Vector.empty))
    }
    val ok = snap.partitions.map(_.bucket)
    // an empty committed table's data dir may not exist at all, and the
    // parquet read would throw instead of returning the empty view
    if (ok.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], TableSchema)
    else scan(spark, Paths.get(root, "data"))
      .filter(col("part_bucket").isin(ok: _*))
  }
}
