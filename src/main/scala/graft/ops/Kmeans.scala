package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic distributed k-means for IVF coarse quantizers.
  *
  * Round-1 ann_ivf used the K lowest-id vectors as centroids with a note
  * that "at scale a k-means job would produce these"; this IS that job:
  *  - init: the K lowest-id vectors (deterministic, no RNG);
  *  - assign: broadcast the K centroids, one codegen'd cosine pass over
  *    the corpus;
  *  - update: per-(cell, dim) mean via groupBy aggregate — partial
  *    aggregation combines map-side, so the shuffle carries
  *    K x dim x partitions partial rows, never raw vectors;
  *  - the K new centers (K x dim doubles) are collected to the driver
  *    between iterations, exactly like Spark MLlib's Lloyd loop — that
  *    collect is K rows, not data-scale, and keeps per-iteration plans
  *    flat instead of stacking lineage.
  * Fixed iteration count + id tie-breaks: the fit is reproducible and
  * row-order-independent.
  */
object Kmeans {

  /** Fit k centroids over `embeddings(vec_id, embedding)`. */
  def fit(embeddings: DataFrame, k: Int, iterations: Int): Vector[(Int, Array[Double])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))

    var cents: Vector[(Int, Array[Double])] = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int"), col("v")).as[(Int, Seq[Double])]
      .collect().toVector.sortBy(_._1).map { case (id, v) => (id, v.toArray) }

    for (_ <- 1 to iterations) {
      val cdf = cents.map { case (cid, c) => (cid, c.toSeq) }.toDF("cid", "c")
      val means = vecs.crossJoin(broadcast(cdf))
        .withColumn("cos",
          round(graft.functions.GraftFunctions.cosine(col("v"), col("c")), 9))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
            .orderBy(col("cos").desc, col("cid"))))
        .filter(col("rk") === 1)
        .select(col("cid"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("cid"), col("d"))
        .agg(avg(col("x")).as("m"))
        .as[(Int, Int, Double)].collect()
      val updated = means.groupBy(_._1).map { case (cid, rows) =>
        cid -> rows.sortBy(_._2).map(_._3)
      }
      // a cell can go empty (all vectors closer elsewhere): keep its old
      // center, the standard Lloyd fallback
      cents = cents.map { case (cid, old) => (cid, updated.getOrElse(cid, old)) }
    }
    cents
  }

  /** Integer-spherical Lloyd: vectors quantized to integers
    * (round(x*256)), centroids kept as UN-normalized per-dimension
    * integer SUM vectors. Cosine is scale-invariant, so the mean's
    * direction equals the sum's direction — Lloyd-with-cosine never needs
    * the division, and every intermediate centroid is an EXACT integer
    * (magnitudes bounded by corpus_size * 256 << 2^53). That eliminates
    * the iterated-float-mean IEEE drift that made the plain [[fit]]
    * non-replicable in DuckDB: identical integers in, identical rounded
    * cosines out, identical assignments each iteration — the same
    * integer-domain trick that took ann_lsh_bucketed exact in round 3.
    * Same distributed shape as [[fit]] (broadcast centroids, map-side
    * partial sums, K x dim driver collect per iteration).
    */
  def fitIntSpherical(embeddings: DataFrame, k: Int, iterations: Int): Vector[(Int, Array[Double])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 256)).as("v"))

    var cents: Vector[(Int, Array[Double])] = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int"), col("v")).as[(Int, Seq[Double])]
      .collect().toVector.sortBy(_._1).map { case (id, v) => (id, v.toArray) }

    for (_ <- 1 to iterations) {
      val cdf = cents.map { case (cid, c) => (cid, c.toSeq) }.toDF("cid", "c")
      val sums = vecs.crossJoin(broadcast(cdf))
        .withColumn("cos",
          round(graft.functions.GraftFunctions.cosine(col("v"), col("c")), 6))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
            .orderBy(col("cos").desc, col("cid"))))
        .filter(col("rk") === 1)
        .select(col("cid"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("cid"), col("d"))
        .agg(sum(col("x")).as("s"))
        .as[(Int, Int, Double)].collect()
      val updated = sums.groupBy(_._1).map { case (cid, rows) =>
        cid -> rows.sortBy(_._2).map(_._3)
      }
      cents = cents.map { case (cid, old) => (cid, updated.getOrElse(cid, old)) }
    }
    cents
  }

  /** Centroids as a (cid, ce) DataFrame ready to broadcast into an IVF
    * assignment join.
    */
  def centroidsDf(spark: SparkSession, cents: Vector[(Int, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.map { case (cid, c) => (cid, c.toSeq) }.toDF("cid", "ce")
  }
}
