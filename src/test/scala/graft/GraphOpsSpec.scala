package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphOps

/** PageRank over DataFrame edges: closed-form values on tiny graphs, and
  * shape invariants on the real KG output.
  */
class GraphOpsSpec extends AnyFunSuite with SparkTestBase {

  private def edges(es: (String, String)*) = {
    import spark.implicits._
    es.map { case (s, o) => (s, "rel", o) }.toSeq.toDF("subj_cui", "pred", "obj_cui")
  }

  test("closed form: two-node cycle converges to rank 1.0 each") {
    // A <-> B: every iteration each node receives exactly the other's
    // full rank; with damping d and init 1: r = (1-d) + d*r = 1 forever
    val r = GraphOps.pageRank(edges("A" -> "B", "B" -> "A"), iterations = 5)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toMap
    assert(r("A") == 1.0 && r("B") == 1.0)
  }

  test("closed form: star graph ranks the hub above the leaves") {
    // L1, L2, L3 -> H; leaves get no in-edges
    val r = GraphOps.pageRank(edges("L1" -> "H", "L2" -> "H", "L3" -> "H"),
      iterations = 3)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toMap
    // leaves: no contributions -> (1-d) = 0.15 after iteration 1
    assert(math.abs(r("L1") - 0.15) < 1e-9)
    assert(r("L1") == r("L2") && r("L2") == r("L3"))
    // hub after i1: 0.15 + 0.85*3 = 2.7; i2: 0.15+0.85*(3*0.15)=0.5325; i3 same
    assert(math.abs(r("H") - 0.5325) < 1e-9)
    assert(r("H") > r("L1"))
  }

  test("deterministic and repartition-invariant on the KG") {
    implicit val s = spark
    val g = graft.pipeline.Pipeline.graph(
      graft.pipeline.Pipeline.run(graft.corpus.CorpusGen.pages(spark, 120)),
      graft.pipeline.Pipeline.broadcastUmls(spark))
    val a = GraphOps.pageRank(g).collect().map(_.toString).toVector
    val b = GraphOps.pageRank(g.repartition(7)).collect().map(_.toString).toVector
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("graph preferred names: the join form's values, no broadcast exchange") {
    implicit val s = spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, coalesce, col}
    val umls = graft.pipeline.Pipeline.broadcastUmls(spark)
    // a named CUI, a CUI without a preferred name, and a null CUI
    val triples = Seq(
      ("C0027051", "causes", "C9999999", "u1", 1),
      ("C0027051", "causes", "C9999999", "u2", 1),
      ("C9999999", "treats", null, "u1", 2),
      (null, "treats", "C0018787", "u3", 0)).toDF("subj_cui", "pred", "obj_cui", "url", "sentNo")
    val g = graft.pipeline.Pipeline.graph(triples, umls)
    assert(g.columns.toSeq == Seq("subj_cui", "pred", "obj_cui", "n_evidence", "n_docs",
      "subj_name", "obj_name"))
    // the former form: two broadcast joins against a relation of the map
    val prefDf = umls.value.cuiPreferred.toSeq.toDF("pc", "pname")
    def prefJoin(df: org.apache.spark.sql.DataFrame, cuiCol: String, out: String) =
      df.join(broadcast(prefDf), col(cuiCol) === col("pc"), "left")
        .withColumn(out, coalesce(col("pname"), col(cuiCol))).drop("pc", "pname")
    val rolled = g.drop("subj_name", "obj_name")
    val joined = prefJoin(prefJoin(rolled, "subj_cui", "subj_name"), "obj_cui", "obj_name")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toVector.sorted
    assert(rows(g) == rows(joined))
    assert(rows(g).contains("[C0027051,causes,C9999999,2,2,Myocardial Infarction,C9999999]"))
    assert(rows(g).contains("[C9999999,treats,null,1,1,C9999999,null]"))
    assert(rows(g).contains("[null,treats,C0018787,1,1,null,Heart]"))
    val plan = g.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan)
  }

  test("connected components: chains merge, self-loops drop, strings order") {
    import spark.implicits._
    // chain C3-C2-C1 (multi-hop), pair C9-C8, self-loop C5 (ignored)
    val e = Seq(("C2", "C1"), ("C3", "C2"), ("C8", "C9"), ("C5", "C5"))
      .toDF("u", "v")
    val cc = GraphOps.connectedComponents(e)
      .as[(String, String)].collect().toMap
    assert(cc == Map("C1" -> "C1", "C2" -> "C1", "C3" -> "C1",
      "C8" -> "C8", "C9" -> "C8"))
  }

  test("connected components: an empty edge set gives an empty result") {
    import spark.implicits._
    val e = Seq.empty[(String, String)].toDF("u", "v")
    assert(GraphOps.connectedComponents(e).collect().isEmpty)
    val err = intercept[IllegalArgumentException](
      GraphOps.connectedComponents(e, maxRounds = 0))
    assert(err.getMessage.contains("maxRounds >= 1"))
  }
}
