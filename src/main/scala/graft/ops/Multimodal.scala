package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque binary payloads with
  * typed metadata, plus decode / feature-extract / resize / frame-sample
  * stages shaped for batch execution.
  *
  * The actual codecs are NOT available in this container, so the decode
  * step is STUBBED with a deterministic fake container format ("GMM1"):
  *   bytes 0-3  magic "GIMG" | "GAUD" | "GVID"
  *   byte  4    width/16  (images, video)  or channels (audio)
  *   byte  5    height/16 (images, video)  or sampleRate/1000 (audio)
  *   byte  6    n_frames  (video)          or duration seconds (audio)
  *   bytes 7+   opaque payload
  * Everything around the stub — schema, binary column handling, batched
  * per-partition execution (the mapInPandas batch shape), partitioning —
  * is real and tested.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  final case class MediaMeta(media_id: Long, kind: String, width: Int, height: Int,
      n_frames: Int, sample_rate: Int, n_bytes: Int, format_ok: Boolean)

  /** Deterministic synthetic media table (binary column + id). */
  def mediaTable(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val kind = (i % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val magic = kind match {
        case "image" => "GIMG"; case "audio" => "GAUD"; case _ => "GVID"
      }
      val w = (1 + (i * 37 % 120)).toInt
      val h = (1 + (i * 53 % 90)).toInt
      val f = (1 + (i * 11 % 200)).toInt
      val body = Array.tabulate(64)(k => ((i * 131 + k * 17) % 251).toByte)
      MediaRow(i, kind, magic.getBytes("ASCII") ++ Array(w.toByte, h.toByte, f.toByte) ++ body)
    }
  }

  /** ??? in spirit: the real decoder would go here (libjpeg/ffmpeg et al).
    * Deterministic stub parsing the fake container header.
    */
  private def decodeStub(payload: Array[Byte]): (String, Int, Int, Int, Int, Boolean) = {
    if (payload == null || payload.length < 7) ("unknown", 0, 0, 0, 0, false)
    else {
      val magic = new String(payload.take(4), "ASCII")
      val b4 = payload(4) & 0xff
      val b5 = payload(5) & 0xff
      val b6 = payload(6) & 0xff
      magic match {
        case "GIMG" => ("image", b4 * 16, b5 * 16, 1, 0, true)
        case "GVID" => ("video", b4 * 16, b5 * 16, b6, 0, true)
        case "GAUD" => ("audio", 0, 0, 0, b5 * 1000, true)
        case _ => ("unknown", 0, 0, 0, 0, false)
      }
    }
  }

  /** Batched decode: iterator-in / iterator-out per partition (the same
    * batch shape a mapInPandas decode would use), binary column in, typed
    * metadata struct out.
    */
  def decodeMetadata(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(256).flatMap { batch =>
        batch.iterator.map { r =>
          val (kind, w, h, f, sr, ok) = decodeStub(r.payload)
          MediaMeta(r.media_id, kind, w, h, f, sr, r.payload.length, ok)
        }
      }
    }
  }

  /** Resize stage (stub): recompute metadata at a target long side,
    * preserving aspect; emits the plan-level columns a real resize would.
    */
  def resizePlan(meta: Dataset[MediaMeta], targetLongSide: Int): DataFrame = {
    meta.toDF()
      .filter(col("kind").isin("image", "video") && col("format_ok"))
      .withColumn("scale",
        lit(targetLongSide).cast("double") / greatest(col("width"), col("height")))
      .withColumn("out_width", ceil(col("width") * col("scale")).cast("int"))
      .withColumn("out_height", ceil(col("height") * col("scale")).cast("int"))
      .select("media_id", "kind", "width", "height", "out_width", "out_height")
  }

  /** Frame sampling (stub): every videos' frame indices at a stride —
    * explode to one row per sampled frame (the shape a training-data
    * pipeline feeds to a feature extractor).
    */
  def frameSample(meta: Dataset[MediaMeta], stride: Int): DataFrame = {
    meta.toDF()
      .filter(col("kind") === "video" && col("format_ok"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .select("media_id", "frame_idx", "width", "height")
  }

  /** Feature extraction (stub): payload bytes -> deterministic 16-dim
    * float vector (a real extractor would run a vision/audio model here;
    * the batch shape, output schema, and downstream ANN-compatibility are
    * what this stage proves).
    */
  def extractFeatures(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(256).flatMap { batch =>
        batch.iterator.map { r =>
          val v = Array.tabulate(16) { d =>
            var acc = 0
            var k = d
            while (k < r.payload.length) { acc = acc * 31 + (r.payload(k) & 0xff); k += 16 }
            (acc % 1000).toFloat / 1000f
          }
          (r.media_id, r.kind, v)
        }
      }
    }.toDF("media_id", "kind", "features")
  }

  /** Media-table size of the LAST gate query run — the oracle generator
    * SQL embeds it (Verify dumps oracle_sql AFTER running the queries,
    * same pattern as KgOracleTables' last sf dir). Default = the driver's
    * sf0.01 gate size.
    */
  @volatile private var lastN: Long = 400L * 5

  private def tableFor(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    val n = graft.KgQueries.pagesFor(sfDir) * 5
    lastN = n
    mediaTable(spark, n)
  }

  def mediaMetadata(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    decodeMetadata(tableFor(spark, sfDir)).toDF().orderBy(col("media_id"))
  }

  def mediaFrameSample(spark: SparkSession, sfDir: String): DataFrame =
    frameSample(decodeMetadata(tableFor(spark, sfDir)), 7).orderBy(col("media_id"), col("frame_idx"))

  def mediaResize(spark: SparkSession, sfDir: String): DataFrame =
    resizePlan(decodeMetadata(tableFor(spark, sfDir)), 256).orderBy(col("media_id"))

  /** Feature vectors fed straight into the native cosine ANN — the
    * multimodal -> embedding -> similarity plumbing end to end.
    */
  def mediaFeaturesTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val f = extractFeatures(tableFor(spark, sfDir))
    val q = f.filter(col("media_id") < 8).toDF("query_id", "qk", "qe")
    val c = f.toDF("neighbor_id", "nk", "ne")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("cos6").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos6", round(graft.functions.GraftFunctions.cosine(col("qe"), col("ne")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos6"))
      .orderBy(col("query_id"), col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_metadata" -> (mediaMetadata _),
    "media_frame_sample" -> (mediaFrameSample _),
    "media_resize" -> (mediaResize _),
    "media_features_topk" -> (mediaFeaturesTopk _))

  // ---------- DuckDB oracles ----------
  //
  // The synthetic media table is a pure arithmetic function of media_id,
  // so DuckDB can regenerate the HEADER FIELDS from generate_series and
  // independently recompute every stage — which verifies the part that
  // matters here: the binary container encode (byte packing/truncation)
  // -> opaque-binary column -> batched mapPartitions decode roundtrip,
  // plus each stage's arithmetic, against an engine that never touches
  // the binary at all. A real-codec deployment keeps the same plumbing
  // and swaps decodeStub; these oracles pin the plumbing.

  /** Generator CTE: media_id, kind, header fields (w,h,f pre-scale). */
  private def mediaCte: String =
    s"""m AS (SELECT i AS media_id,
       |  CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END kind,
       |  CAST(1 + (i * 37 % 120) AS INT) w,
       |  CAST(1 + (i * 53 % 90) AS INT) h,
       |  CAST(1 + (i * 11 % 200) AS INT) f
       |  FROM (SELECT unnest(generate_series(0, $lastN - 1)) i))""".stripMargin

  def mediaMetadataSql: String =
    s"""WITH $mediaCte
       |SELECT media_id, kind,
       |  CAST(CASE WHEN kind = 'audio' THEN 0 ELSE w * 16 END AS INT) AS width,
       |  CAST(CASE WHEN kind = 'audio' THEN 0 ELSE h * 16 END AS INT) AS height,
       |  CAST(CASE kind WHEN 'image' THEN 1 WHEN 'video' THEN f ELSE 0 END AS INT) AS n_frames,
       |  CAST(CASE WHEN kind = 'audio' THEN h * 1000 ELSE 0 END AS INT) AS sample_rate,
       |  CAST(71 AS INT) AS n_bytes, TRUE AS format_ok
       |FROM m ORDER BY media_id""".stripMargin

  def mediaResizeSql: String =
    s"""WITH $mediaCte
       |SELECT media_id, kind, CAST(w * 16 AS INT) AS width,
       |  CAST(h * 16 AS INT) AS height,
       |  CAST(ceil(w * 16 * (CAST(256 AS DOUBLE) / greatest(w * 16, h * 16))) AS INT) AS out_width,
       |  CAST(ceil(h * 16 * (CAST(256 AS DOUBLE) / greatest(w * 16, h * 16))) AS INT) AS out_height
       |FROM m WHERE kind IN ('image', 'video') ORDER BY media_id""".stripMargin

  def mediaFrameSampleSql: String =
    s"""WITH $mediaCte
       |SELECT media_id, CAST(fi AS INT) AS frame_idx,
       |  CAST(w * 16 AS INT) AS width, CAST(h * 16 AS INT) AS height
       |FROM m, LATERAL (SELECT unnest(generate_series(0, f - 1, 7)) AS fi)
       |WHERE kind = 'video' ORDER BY media_id, frame_idx""".stripMargin

  /** The feature extractor folds payload bytes acc = acc*31 + byte with a
    * 16-byte stride; positions 0-6 are the container header (magic + w,h,f
    * — w/h/f are byte-truncated but always < 128 here), 7+ the body
    * (media_id*131 + k*17) % 251. Re-expressed per-dimension as the same
    * Horner fold over SQL byte expressions; accumulators stay < 2^28 so
    * 32-bit wraparound never fires on either side.
    */
  def mediaFeaturesTopkSql: String = {
    def byteAt(p: Int): String = p match {
      case 0 => "71" // 'G'
      case 1 => "(CASE kind WHEN 'image' THEN 73 WHEN 'audio' THEN 65 ELSE 86 END)"
      case 2 => "(CASE kind WHEN 'image' THEN 77 WHEN 'audio' THEN 85 ELSE 73 END)"
      case 3 => "(CASE kind WHEN 'image' THEN 71 ELSE 68 END)"
      case 4 => "w"
      case 5 => "h"
      case 6 => "f"
      case _ => s"((media_id * 131 + ${p - 7} * 17) % 251)"
    }
    def featExpr(d: Int): String = {
      val ps = Iterator.iterate(d)(_ + 16).takeWhile(_ < 71).toVector
      val acc = ps.map(byteAt).reduceLeft((a, b) => s"($a * 31 + $b)")
      s"CAST($acc % 1000 AS FLOAT) / CAST(1000 AS FLOAT)"
    }
    val vec = (0 until 16).map(featExpr).mkString("list_value(", ", ", ")")
    s"""WITH $mediaCte,
       |fv AS (SELECT media_id, kind, ($vec)::DOUBLE[] fe FROM m),
       |q AS (SELECT media_id query_id, fe qe FROM fv WHERE media_id < 8),
       |s AS (SELECT q.query_id, c.media_id neighbor_id,
       |        round(list_dot_product(q.qe, c.fe) /
       |          (sqrt(list_dot_product(q.qe, q.qe)) *
       |           sqrt(list_dot_product(c.fe, c.fe))), 6) cos6
       |      FROM q JOIN fv c ON q.query_id <> c.media_id),
       |r AS (SELECT query_id, neighbor_id, cos6,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cos6 DESC, neighbor_id) rk FROM s)
       |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, cos6
       |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  /** defs, not vals: built at Verify dump time so lastN is final. */
  def oracleSql: Map[String, String] = Map(
    "media_metadata" -> mediaMetadataSql,
    "media_resize" -> mediaResizeSql,
    "media_frame_sample" -> mediaFrameSampleSql,
    "media_features_topk" -> mediaFeaturesTopkSql)
}
