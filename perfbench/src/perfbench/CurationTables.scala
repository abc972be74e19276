package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

/** The tables the curation leaves read, generated at scale factor 0.1 in
  * the layout the program's query functions expect: one single-file
  * parquet table per name under one directory. The content is fixed (it
  * does not depend on the run's seed), so each leaf's result can be
  * pinned as a row count and an order-insensitive hash.
  *
  * documents: 5,000 bag-of-words texts over a 40-word vocabulary, 8 to 90
  * words long, in five languages and 20 sources; 3 % are exact copies and
  * 6 % near copies (one word changed) of an earlier document, so the
  * dedup leaves find pairs and clusters. embeddings: 2,000 64-dim float
  * vectors around 10 labelled centroids. orders (150,000), lineitem
  * (about 600,000) and customer (15,000) follow the TPC-H columns the
  * relational leaf reads.
  */
object CurationTables {
  final case class Document(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double, l_discount: Double,
      l_tax: Double, l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)

  private val Seed = 42L
  private val Vocab = Vector("a", "the", "data", "spark", "stream", "batch", "table",
    "row", "column", "key", "value", "hash", "join", "sort", "merge", "group", "agg",
    "filter", "scan", "query", "window", "vector", "order", "line", "part", "customer",
    "fast", "slow", "big", "small", "index", "page", "cache", "shard", "node", "task",
    "plan", "file", "block", "log")
  private val Langs = Vector("en", "en", "en", "en", "en", "en", "de", "de", "es", "es",
    "fr", "fr", "zh", "zh")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Day = 86400000L
  private val Epoch1992 = 694224000000L

  /** A uniform draw in [0, n) for stream `salt`, item `i`. */
  private def draw(salt: Long, i: Long, n: Long): Long =
    Seeds.below(Seed * 1000003L + salt * 7919L + i * 104729L, n)
  private def unit(salt: Long, i: Long): Double = draw(salt, i, 1L << 40) / (1L << 40).toDouble
  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  def documents(n: Int): Vector[Document] = {
    val texts = new Array[String](n)
    (0 until n).foreach { i =>
      val kind = draw(1, i, 100)
      texts(i) =
        if (i > 10 && kind < 3) texts(draw(2, i, i).toInt)
        else if (i > 10 && kind < 9) {
          val words = texts(draw(3, i, i).toInt).split(' ')
          words(draw(4, i, words.length).toInt) = Vocab(draw(5, i, Vocab.length).toInt)
          words.mkString(" ")
        } else {
          val n = 8 + draw(6, i, 83).toInt
          (0 until n).map(k => Vocab(draw(7, i * 100 + k, Vocab.length).toInt)).mkString(" ")
        }
    }
    texts.indices.map { i =>
      Document(i, texts(i), Langs(draw(8, i, Langs.length).toInt), s"src${draw(9, i, 20)}",
        texts(i).length)
    }.toVector
  }

  def embeddings(n: Int): Vector[Embedding] = {
    def gauss(salt: Long, i: Long): Double = {
      val u1 = math.max(unit(salt, i), 1e-12); val u2 = unit(salt + 1, i)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val centroids = Array.tabulate(10, 64)((l, d) => 0.1 * gauss(20, l * 64 + d))
    (0 until n).map { i =>
      val label = draw(22, i, 10).toInt
      Embedding(i, Array.tabulate(64)(d =>
        (centroids(label)(d) + 0.08 * gauss(23, i * 64L + d)).toFloat), label)
    }.toVector
  }

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def save[T](name: String, ds: org.apache.spark.sql.Dataset[T]): Unit =
      ds.coalesce(1).write.parquet(s"$dir/$name.parquet")
    val nCust = 15000
    val nOrders = 150000
    save("documents", documents(5000).toDS())
    save("embeddings", embeddings(2000).toDS())
    save("customer", spark.range(1, nCust + 1, 1, 1).map { k =>
      Customer(k, f"Customer#$k%09d", draw(30, k, 25).toInt,
        cents(-999.99 + unit(31, k) * 10999.98), Segments(draw(32, k, 5).toInt))
    })
    save("orders", spark.range(1, nOrders + 1, 1, 1).map { k =>
      Order(k, 1 + draw(40, k, nCust), Seq("F", "O", "P")(draw(41, k, 3).toInt),
        cents(1000 + unit(42, k) * 400000),
        new Timestamp(Epoch1992 + draw(43, k, 2400) * Day), Priorities(draw(44, k, 5).toInt))
    })
    save("lineitem", spark.range(1, nOrders + 1, 1, 1).flatMap { k =>
      (1 to 1 + draw(50, k, 7).toInt).map { ln =>
        val j = k * 8 + ln
        val qty = (1 + draw(51, j, 50)).toDouble
        LineItem(k, 1 + draw(52, j, 20000), 1 + draw(53, j, 1000), ln, qty,
          cents(qty * (900 + unit(54, j) * 1100)), draw(55, j, 11) / 100.0,
          draw(56, j, 9) / 100.0, Seq("A", "N", "R")(draw(57, j, 3).toInt),
          Seq("F", "O")(draw(58, j, 2).toInt),
          new Timestamp(Epoch1992 + draw(59, j, 2500) * Day))
      }
    })
  }
}
