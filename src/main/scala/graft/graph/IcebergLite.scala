package graft.graph

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.AccumulatorV2

import graft.output.JsonMmoOutput

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

  private val SubjColumn = TableSchema.fieldIndex("subj_cui")
  private val BucketColumn = TableSchema.fieldIndex("part_bucket")

  private def scan(spark: SparkSession, dataDir: Path): DataFrame =
    spark.read.schema(TableSchema).parquet(dataDir.toString)

  /** Per-bucket metrics of the rows a write job hands to its writer,
    * gathered in that job's own tasks: rows, distinct subjects, and the
    * least and greatest subject. Semantics are those of `count`,
    * `countDistinct`, `min` and `max`: a null subject counts as a row and
    * nowhere else, and subjects order by their UTF-8 bytes, as Spark
    * orders strings (`String.compareTo` orders UTF-16 units, which
    * differs once a surrogate pair meets a char at U+E000 or above).
    *
    * The driver's copy folds each task's update into per-bucket unions
    * as it arrives, so it holds one set of distinct subjects per bucket,
    * never one per task. Spark applies a result-stage task's update once
    * per partition and never a failed attempt's, so the metrics stay
    * exact under task retries as long as the tally runs in the write's
    * result stage.
    */
  private[graft] final class Tally(nBuckets: Int)
      extends AccumulatorV2[Row, Vector[PartitionMeta]] {
    private val rows = new Array[Long](nBuckets)
    private val subjects = new Array[java.util.HashSet[String]](nBuckets)

    private def subjectsOf(b: Int): java.util.HashSet[String] = {
      if (subjects(b) == null) subjects(b) = new java.util.HashSet[String]
      subjects(b)
    }

    override def isZero: Boolean = rows.forall(_ == 0L)
    override def copyAndReset(): Tally = new Tally(nBuckets)
    override def copy(): Tally = {
      val t = new Tally(nBuckets)
      t.merge(this)
      t
    }
    override def reset(): Unit = {
      java.util.Arrays.fill(rows, 0L)
      java.util.Arrays.fill(subjects.asInstanceOf[Array[AnyRef]], null)
    }

    /** Tallies one row of the table's schema. */
    override def add(r: Row): Unit = {
      val b = r.getInt(BucketColumn)
      rows(b) += 1
      if (!r.isNullAt(SubjColumn)) subjectsOf(b).add(r.getString(SubjColumn))
    }

    override def merge(other: AccumulatorV2[Row, Vector[PartitionMeta]]): Unit = other match {
      case t: Tally =>
        for (b <- 0 until nBuckets) {
          rows(b) += t.rows(b)
          if (t.subjects(b) != null) subjectsOf(b).addAll(t.subjects(b))
        }
      case _ => throw new UnsupportedOperationException(s"cannot merge ${other.getClass}")
    }

    /** The tallied buckets in bucket order. */
    override def value: Vector[PartitionMeta] =
      (0 until nBuckets).filter(rows(_) > 0L).map { b =>
        val subj = Option(subjects(b)).fold(Iterable.empty[String])(_.asScala)
        if (subj.isEmpty) PartitionMeta(b, rows(b), 0L, null, null)
        else PartitionMeta(b, rows(b), subj.size, subj.min(Utf8Order), subj.max(Utf8Order))
      }.toVector
  }

  /** Spark's string order: by UTF-8 bytes. */
  private val Utf8Order: Ordering[String] = Ordering.by(UTF8String.fromString)

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

  // minimal JSON (de)serialization — the manifest schema is ours. A
  // subject is any string: min/max are escaped JSON strings, or null for
  // a bucket whose rows all have a null subject
  private def renderSnapshot(s: Snapshot): String = {
    def str(v: String) = if (v == null) "null" else JsonMmoOutput.js(v)
    val parts = s.partitions.map(p =>
      s"""{"bucket":${p.bucket},"rows":${p.rows},"n_subj_cuis":${p.nSubjCuis},""" +
        s""""min_subj":${str(p.minSubj)},"max_subj":${str(p.maxSubj)}}""").mkString(",")
    s"""{"snapshot_id":${s.snapshotId},"partitions":[$parts]}"""
  }

  /** A JSON string literal (unrolled, so a long one cannot overflow the
    * regex engine's stack), or null.
    */
  private val JsonStr = """(null|"[^"\\]*+(?:\\.[^"\\]*+)*+")"""

  private def parseSnapshot(json: String): Snapshot = {
    val id = """"snapshot_id":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt).getOrElse(0)
    val part = ("""\{"bucket":(\d+),"rows":(\d+),"n_subj_cuis":(\d+),""" +
      s""""min_subj":$JsonStr,"max_subj":$JsonStr\\}""").r
    val ps = part.findAllMatchIn(json).map(m =>
      PartitionMeta(m.group(1).toInt, m.group(2).toLong, m.group(3).toLong,
        unescape(m.group(4)), unescape(m.group(5)))).toVector
    Snapshot(id, ps)
  }

  private val Escaped = "\"\\/bfnrt"
  private val Unescaped = "\"\\/\b\f\n\r\t"

  /** The value of a JSON string literal matched by [[JsonStr]]. */
  private def unescape(lit: String): String =
    if (lit == "null") null
    else {
      val b = new java.lang.StringBuilder(lit.length)
      var i = 1
      while (i < lit.length - 1) {
        val c = lit.charAt(i)
        if (c != '\\') { b.append(c); i += 1 }
        else if (lit.charAt(i + 1) == 'u') {
          b.append(Integer.parseInt(lit.substring(i + 2, i + 6), 16).toChar)
          i += 6
        } else {
          val k = Escaped.indexOf(lit.charAt(i + 1))
          require(k >= 0, s"bad escape in manifest string $lit")
          b.append(Unescaped.charAt(k))
          i += 2
        }
      }
      b.toString
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
    // copy of those rows (reads then return both). Before writing,
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

    // SINGLE execution of the input, and no second job: the write's own
    // tasks tally each row on its way to the writer. At 100 TB the input
    // here is the full kernel pipeline; running it twice would double the
    // most expensive job in the system, and re-scanning the written
    // parquet costs jobs whose time does not shrink with cores. The
    // tally is the top of the write's plan, so it runs in the result
    // stage, where Spark applies each partition's update exactly once.
    val tally = new Tally(nBuckets)
    spark.sparkContext.register(tally)
    todo.mapPartitions(_.map { r => tally.add(r); r })(Encoders.row(todo.schema))
      .write.options(LocalFs.writerOptions).mode("append").partitionBy("part_bucket")
      .parquet(dataDir.toString)

    commit(tally.value)
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
