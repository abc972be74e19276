package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Native CosineSimilarity expression: bit-identical to the functions-API
  * formulation (aggregate+zip_with), stays inside WholeStageCodegen, and
  * the interpreted (eval) path agrees with codegen.
  */
class VectorExprSpec extends AnyFunSuite with SparkTestBase {

  private def vecs = {
    import spark.implicits._
    (0 until 200).map { i =>
      val a = Array.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat / 3f)
      val b = Array.tabulate(64)(d => ((i * 17 + d * 11) % 9 - 4).toFloat / 2f)
      (i.toLong, a, b)
    }.toDF("id", "a", "b")
  }

  test("matches the aggregate(zip_with) formulation bit-for-bit") {
    GraftFunctions.register(spark)
    val ad = transform(col("a"), x => x.cast("double"))
    val bd = transform(col("b"), x => x.cast("double"))
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val rows = vecs
      .withColumn("native", GraftFunctions.cosine(col("a"), col("b")))
      .withColumn("func", dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd))))
      .select(col("native"), col("func")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("stays inside WholeStageCodegen") {
    GraftFunctions.register(spark)
    // spark.range is a codegen source; local Seqs would constant-fold into
    // a LocalTableScan and hide the interesting plan. Arrays built with
    // array() (a codegen expression) — transform()'s lambda would itself
    // be the fallback and mask what we're testing.
    def vec(ms: Int*) = array(ms.map(m => ((col("id") * m) % 13 - 6).cast("float")): _*)
    val base = spark.range(200)
      .withColumn("a", vec(3, 7, 11, 17)).withColumn("b", vec(5, 13, 19, 23))
    val df = base.select(GraftFunctions.cosine(col("a"), col("b")).as("c"))
      .filter(col("c") > -2)
    // WholeStageCodegenExec renders as "*(n) Project ..." — the fused span
    // must include the Project holding the cosine, not just the Range
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(df.collect().length == 200)
  }

  test("interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val a = Array(1.0f, 2.0f, 3.0f)
    val b = Array(0.5f, -1.0f, 2.0f)
    val e = graft.functions.CosineSimilarity(
      Literal.create(a, ArrayType(FloatType)), Literal.create(b, ArrayType(FloatType)))
    val got = e.eval(null).asInstanceOf[Double]
    val dot = 1.0 * 0.5 + 2.0 * -1.0 + 3.0 * 2.0
    val expect = dot / (math.sqrt(1.0 + 4.0 + 9.0) * math.sqrt(0.25 + 1.0 + 4.0))
    assert(math.abs(got - expect) < 1e-15)
  }

  test("double arrays; dimension mismatch yields NULL, never a prefix score") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // a schema-drifted 2-dim query against 3-dim vectors must not rank
    // with a plausible-but-wrong common-prefix cosine (DuckDB's list
    // functions error on mismatch; the Spark-side contract is NULL)
    val df = Seq((Array(1.0, 0.0), Array(1.0, 0.0, 5.0))).toDF("a", "b")
    val r = df.select(GraftFunctions.cosine(col("a"), col("b")),
      GraftFunctions.dot(col("a"), col("b"))).head
    assert(r.isNullAt(0) && r.isNullAt(1))
    // equal dims still compute (double element type)
    val ok = Seq((Array(1.0, 0.0), Array(1.0, 0.0))).toDF("a", "b")
      .select(GraftFunctions.cosine(col("a"), col("b"))).head.getDouble(0)
    assert(math.abs(ok - 1.0) < 1e-12)
  }

  test("capped collect set: exact under cap, overflow marker above, sorted") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = spark.range(0, 100)
      .select((col("id") % 10).as("k"), col("id"))
      .repartition(7) // exercise partial buffers + merge
    // 10 distinct ids per key, cap 5: buffer stops at cap+1 = 6 (overflow)
    val over = df.groupBy("k")
      .agg(GraftFunctions.cappedCollectSet(col("id"), 5).as("ids"))
      .select(org.apache.spark.sql.functions.size(col("ids")).as("n")).collect()
    assert(over.forall(_.getAs[Int]("n") == 6), over.mkString(","))
    // 3 per key <= cap: exact distinct set, sorted
    val exact = df.filter(col("id") < 30).groupBy("k")
      .agg(GraftFunctions.cappedCollectSet(col("id"), 5).as("ids")).collect()
    exact.foreach { r =>
      val k = r.getAs[Long]("k")
      assert(r.getSeq[Long](1) == Seq(k, k + 10, k + 20), r.toString)
    }
  }

  /** The registered builder of each graft function on `s`. */
  private def builders(s: org.apache.spark.sql.SparkSession) =
    Seq("graft_cosine", "graft_dot", "graft_capped_collect_set").map(n =>
      s.sessionState.functionRegistry.lookupFunctionBuilder(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n)))

  test("register twice: the second call keeps the registration, functions resolve") {
    GraftFunctions.register(spark)
    val first = builders(spark)
    assert(first.forall(_.isDefined))
    GraftFunctions.register(spark)
    val second = builders(spark)
    assert(first.zip(second).forall { case (a, b) => a.get eq b.get })
    import spark.implicits._
    val df = Seq((Array(3.0f, 4.0f), Array(3.0f, 4.0f), 7L)).toDF("a", "b", "id")
    val r = df.selectExpr("graft_cosine(a, b)", "graft_dot(a, b)").head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && r.getDouble(1) == 25.0)
    assert(df.selectExpr("graft_capped_collect_set(id, 5)").head.getSeq[Long](0) == Seq(7L))
  }

  test("GraftExtensions: config-driven session picks up graft_cosine") {
    // build a sibling session on the same context with the extensions
    // config — the deployment path (spark.sql.extensions=...GraftExtensions)
    import org.apache.spark.sql.SparkSession
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // (spark.sql.extensions is STATIC conf — locked at context creation —
      // so the shared test context can't take the config-string route;
      // withExtensions applies the same class through the builder)
      val s2 = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      val v = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f)))
        .toDF("a", "b")
        .selectExpr("graft_cosine(a, b) AS c").head.getDouble(0)
      assert(math.abs(v - 1.0) < 1e-12)
      // the extension already registered the functions: register keeps them
      val injected = builders(s2)
      GraftFunctions.register(s2)
      assert(injected.forall(_.isDefined))
      assert(injected.zip(builders(s2)).forall { case (a, b) => a.get eq b.get })
      assert(Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
        .selectExpr("graft_dot(a, b)").head.getDouble(0) == 11.0)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
