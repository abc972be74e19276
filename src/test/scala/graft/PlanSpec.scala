package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DocOps
import graft.relational.RelationalQueries

/** Physical-plan assertions: filters and projections must reach the
  * parquet scan, small dimensions must broadcast, and nothing silently
  * degrades to a cartesian product. These are the .explain checks the
  * 100 TB design depends on — kept as tests so they cannot regress.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Post-execution plan: AQE only materializes final stages (and their
    * WholeStageCodegen spans) once the query has run.
    */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q01: shipdate filter and column pruning reach the parquet scan") {
    val p = plan(RelationalQueries.q01PricingSummary(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    // pruned read schema: no l_orderkey/l_partkey etc in the scan
    assert(!p.contains("l_partkey"), "scan reads columns the query never uses")
  }

  test("q01: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan(RelationalQueries.q01PricingSummary(spark, sf))
    assert(p.contains("HashAggregate"), p)
    // partial + final pair means map-side combine happened
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("q02: customer joins as broadcast from STATS (no hint in the query)") {
    // q02 carries no broadcast(customer) hint — customer scales with SF, so a
    // forced broadcast would OOM the driver at 100 TB. At sandbox scale the
    // size stats must still make Spark/AQE pick a broadcast join on its own.
    val p = finalPlan(RelationalQueries.q02TopRevenueOrders(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no stats-based broadcast join:\n$p")
  }

  test("q07: star dims broadcast; no shuffle join for nation/region") {
    val p = plan(RelationalQueries.q07RegionRollup(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), s"dim join degraded to SMJ:\n$p")
  }

  test("q03/q04: semi and anti joins stay hash-based") {
    val p3 = plan(RelationalQueries.q03OrderPrioritySemi(spark, sf))
    val p4 = plan(RelationalQueries.q04CustomersNoOrdersAnti(spark, sf))
    assert(p3.contains("LeftSemi"), p3)
    assert(p4.contains("LeftAnti"), p4)
  }

  test("kg pipeline: default batch plan has no exchange before the sink") {
    implicit val s = spark
    val p = plan(graft.pipeline.Pipeline.run(graft.corpus.CorpusGen.pages(spark, 10)))
    assert(!p.contains("Exchange"), s"map-side triple path acquired a shuffle:\n$p")
  }

  test("dedup LSH: single signature pass, bucket-grouped pairs, no self-join") {
    // the COMPUTE plan (the public query entry serves the per-snapshot
    // materialization, write-through)
    val p = plan(DocOps.minhashCandidatePairs(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // pairs come from groupBy(band, sig) bucket enumeration: there must be
    // NO join (a self-join would recompute the shingle->minhash lineage
    // twice — round-1's 20.9 s entry) and only ONE scan of documents
    assert(!p.contains("Join"), s"minhash acquired a join:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"documents scanned twice:\n$p")
    // ...and the consumers read the snapshot instead of re-running it
    val pc = plan(DocOps.dedupMinhashLsh(spark, sf))
    assert(pc.contains("graft_snapshot"), pc)
  }

  test("token-jaccard: exact verify on LSH candidates, no quadratic self-join") {
    val df = DocOps.dedupTokenJaccard(spark, sf)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(!plan(df).contains("CartesianProduct"), plan(df))
    // every join must carry a doc_id-keyed equality (candidate fetch);
    // the round-1 block-quadratic join keyed ONLY on (source, lang)
    val joinLines = logical.linesIterator.filter(_.contains("Join")).toVector
    assert(joinLines.nonEmpty && joinLines.forall(l =>
      l.contains("a#") || l.contains("b#") || l.contains("doc_id#")),
      s"jaccard join not keyed by doc id:\n$logical")
  }

  test("q13: per-customer stats join avoids cartesian; customer broadcasts via stats") {
    // like q02: NO broadcast(customer) hint (scale-unsafe) — assert the
    // stats/AQE-chosen join is still a broadcast at sandbox scale.
    val p = finalPlan(graft.relational.AdvancedQueries.q13AboveCustomerAvg(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"customer dim not broadcast:\n$p")
  }

  test("q18: rollup keeps dims broadcast + Expand feeds partial agg") {
    val p = plan(graft.relational.AdvancedQueries.q18RollupRegion(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Expand"), p) // grouping-sets expansion node
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("q17/q15: filtered agg and JSON extraction stay fully codegen'd") {
    val p = finalPlan(graft.relational.AdvancedQueries.q17FilteredAgg(spark, sf))
    assert(p.contains("*(1)"), p)
    val q = finalPlan(graft.relational.AdvancedQueries.q15JsonProps(spark, sf))
    assert(q.contains("*(1)"), q)
  }

  test("ann: native cosine keeps the scoring project inside codegen") {
    val p = finalPlan(DocOps.annTopkBruteforce(spark, sf))
    assert(p.contains("cosinesimilarity"), p)
    assert(!p.contains("CartesianProduct"), p) // broadcast NL join is fine
  }

  test("bucketed tables: co-located join elides the shuffle") {
    // the 100 TB co-location strategy: both sides bucketed by the join key
    // at write time -> the join needs NO Exchange on either side
    // external tables at explicit paths: the static warehouse dir is
    // untouched
    val wh = java.nio.file.Files.createTempDirectory("graft_warehouse").toString
    val o = graft.Tables.load(spark, sf, "orders").limit(2000)
    val l = graft.Tables.load(spark, sf, "lineitem").limit(2000)
    spark.sql("DROP TABLE IF EXISTS g_orders_b")
    spark.sql("DROP TABLE IF EXISTS g_lineitem_b")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/g_orders_b").saveAsTable("g_orders_b")
    l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/g_lineitem_b").saveAsTable("g_lineitem_b")
    // small test tables would broadcast-join (also shuffle-free, but that
    // proves nothing about bucketing): force the sort-merge path the
    // tables would take at real size
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = try {
      val joined = spark.table("g_lineitem_b").join(spark.table("g_orders_b"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
        .groupBy(org.apache.spark.sql.functions.col("o_orderpriority"))
        .count()
      joined.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    // no Exchange may appear BELOW the join (bucket co-location); the
    // final groupBy may still shuffle its 5 keys
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, p)
    assert(!p.substring(joinIdx).contains("Exchange"),
      s"bucketed join re-shuffled:\n$p")
    spark.sql("DROP TABLE IF EXISTS g_orders_b")
    spark.sql("DROP TABLE IF EXISTS g_lineitem_b")
  }

  test("whole-stage codegen covers the scoring-free column pipelines") {
    // token counting: scan -> project -> sort, all codegen'd. (The
    // fingerprint op uses higher-order array functions, which Spark
    // evaluates outside codegen by design — acceptable, it is map-side.)
    // codegen'd spans render as "*(n)" operator prefixes in the plan tree
    val p = finalPlan(DocOps.docTokenCount(spark, sf))
    assert(p.contains("*(1)"), p)
    val q = finalPlan(RelationalQueries.q01PricingSummary(spark, sf))
    assert(q.contains("*(1)") && q.contains("*(2)"), q)
  }

  test("kg WSD window pre-aggregates map-side (partial WindowGroupLimit)") {
    // the rank-1 window over the mention checkpoint must cut each span
    // group to its best row BEFORE the exchange — the map-side top-1
    // that keeps the WSD shuffle volume at one row per span
    graft.KgOracleTables.ensure(spark, sf)
    val p = plan(graft.KgQueries.kgWsdDedup(spark, sf))
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), s"no map-side window group limit:\n$p")
  }

  test("kg oracle parquet globs name this JVM's current snapshot versions") {
    // the DuckDB oracles embed absolute globs: each must resolve to the
    // version this JVM wrote, not to a dump left by an earlier session
    graft.KgOracleTables.ensure(spark, sf)
    val current = Seq("kg_mentions", "kg_semnet", "kg_cui_pref", "kg_treecodes")
      .map(graft.ops.SnapshotCache.currentPath(sf, _))
    val globs = graft.KgQueries.oracleSql.values
      .flatMap("read_parquet\\('([^']*)'\\)".r.findAllMatchIn(_).map(_.group(1))).toSet
    assert(globs.size == current.size, globs.mkString("\n"))
    globs.foreach { g =>
      val dir = new java.io.File(g).getParentFile
      assert(g.endsWith("/*.parquet") && current.contains(dir.getPath), g)
      assert(dir.listFiles().exists(_.getName.endsWith(".parquet")), s"no parquet under $dir")
    }
  }

  test("CC contraction and pack plan never buffer per-key collections") {
    // star contraction: min-agg + join-back only — a collect_set here
    // would hold a converged star's whole component at its root. The
    // rounds execute eagerly inside connectedComponents, so the
    // assertion must target the ROUND plans (largeStar/smallStar), not
    // the final members join.
    import spark.implicits._
    val e = Seq((5L, 1L), (7L, 5L), (9L, 2L)).toDF("u", "v")
    for (round <- Seq(graft.graph.GraphOps.largeStar(e),
        graft.graph.GraphOps.smallStar(e))) {
      val p = plan(round)
      assert(!p.toLowerCase.contains("collect_set"), p)
      assert(!p.toLowerCase.contains("collect_list"), p)
      assert(!p.contains("ObjectHashAggregate"),
        s"contraction round aggregates objects, not scalars:\n$p")
    }
    // pack plan: exactly one hash exchange (the shard partition) feeds
    // the shard-local running-sum window; nothing global
    val pp = plan(graft.ops.CorpusOps.corpusPackPlan(spark, sf))
    assert(pp.contains("hashpartitioning(shard"), pp)
    assert(pp.contains("Window"), pp)
    assert(!pp.contains("SinglePartition"),
      s"pack plan degraded to a global window:\n$pp")
  }

  test("new curation ops: broadcast dims, no cartesians, no global windows") {
    // decontaminate COMPUTE: the benchmark gram set must broadcast
    // (eval-set-scale), never a shuffle join keyed by gram (the public
    // query entry serves the per-snapshot parquet materialization, so
    // the shape assertions target the compute plan)
    val pd = plan(graft.ops.CorpusOps.decontaminateCompute(spark, sf))
    assert(pd.contains("BroadcastHashJoin"), pd)
    assert(!pd.contains("CartesianProduct"), pd)
    // sampling plan compute: source counts + max broadcast onto a
    // map-only decision — no SortMergeJoin anywhere
    val ps = plan(graft.ops.CorpusOps.samplingPlanCompute(spark, sf))
    assert(ps.contains("BroadcastHashJoin") || ps.contains("BroadcastNestedLoopJoin"), ps)
    assert(!ps.contains("SortMergeJoin"), ps)
    // canonical: keep-longest window partitions by cluster_id, never
    // global — and its input is the materialized cluster table, NOT a
    // re-run of connected components (no iterative-join subtree)
    val pc = plan(graft.ops.DocOps.dedupCanonical(spark, sf))
    assert(pc.contains("hashpartitioning(cluster_id"), pc)
    assert(!pc.contains("SinglePartition"), s"canonical degraded to a global window:\n$pc")
    assert(pc.contains("graft_snapshot"),
      s"canonical should read the per-snapshot cluster table:\n$pc")
  }

  test("hybrid search: fusion windows read bounded top-N lists, not the corpus") {
    // each retrieval side must pass through TakeOrderedAndProject(limit=N)
    // BEFORE its rank window: per-partition partial top-N + bounded merge,
    // so the single-partition window input is a constant (<= hybridTopN)
    // regardless of corpus size — a score-threshold filter alone grows
    // linearly with keyword-hit documents
    val p = plan(DocOps.hybridSearch(spark, sf))
    val takes = "TakeOrderedAndProject".r.findAllIn(p).size
    assert(takes >= 2, s"per-side top-N cut missing ($takes):\n$p")
    assert(p.contains(s"limit=${DocOps.hybridTopN}"), p)
    val firstWindow = p.indexOf("Window")
    val firstTake = p.indexOf("TakeOrderedAndProject")
    assert(firstTake >= 0 && firstWindow >= 0)
    // plan trees print consumers above producers: every window must sit
    // ABOVE (before, textually) a TakeOrderedAndProject feeding it
    assert(p.lastIndexOf("TakeOrderedAndProject") > firstWindow,
      s"rank window not fed by a bounded top-N:\n$p")
  }
}
