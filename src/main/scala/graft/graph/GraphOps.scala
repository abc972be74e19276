package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Analytics over the materialized KG edge table (subj_cui, pred,
  * obj_cui, ...): the consumer-side graph algorithms a knowledge-graph
  * user runs first. DataFrame joins only — each PageRank iteration is one
  * equi-join on the vertex id plus one keyed aggregate, the standard
  * Pregel-by-join shape that scales with executors (no driver-side graph,
  * no GraphX dependency).
  */
object GraphOps {

  /** Deterministic PageRank with a fixed iteration count (no convergence
    * test — reproducibility beats adaptivity for a gate query). Edges are
    * deduplicated (subj -> obj); dangling mass follows the standard
    * redistribution-free formulation (rank leaks, like GraphX's default).
    *
    * @param edges DataFrame with subj_cui / obj_cui columns
    */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("subj_cui").as("src"), col("obj_cui").as("dst"))
      .distinct()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val vertices = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()

    var ranks = vertices.withColumn("rank", lit(1.0))
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .join(outDeg, Seq("src"))
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("contrib"))
      ranks = vertices
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(1.0 - damping) + lit(damping) * coalesce(col("contrib"), lit(0.0)))
            .as("rank"))
    }
    ranks.select(col("id").as("cui"), round(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("cui"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): each round is a groupBy + bounded array explode
    * over the current edge list, converging in O(log^2 n) rounds
    * independent of component diameter — no driver-side graph, no
    * O(diameter) label walk. Works for any orderable node type (longs
    * for documents, CUI strings for the KG).
    *
    * @param edges two columns `u`, `v` (undirected pairs, any orientation)
    * @param maxRounds safety valve far above the O(log^2 n) convergence
    *                  bound (~5 rounds at 800k pages); on non-convergence
    *                  the operator fails loudly — a non-star edge set
    *                  would silently mislabel members, never emit it
    * @return (`node`, `rep`) for every node APPEARING IN edges, where rep
    *         is the component minimum; callers union in their singletons
    */
  // Large-Star: connect every strictly-larger neighbor of u to
  // m = min(N(u) + {u}); Small-Star: connect u and its smaller
  // neighbors to their minimum. Both emit (child, parent) edges.
  //
  // Deliberately NO neighbor-list aggregation: m is a min-agg joined
  // back to the edges, so per-key state is a single value. A
  // collect_set formulation would buffer a converged star's entire
  // component at its root (the exact giant-dup-cluster OOM this
  // operator exists to survive); the join-back streams that key
  // through sort-merge/AQE-skew machinery instead. Package-private so
  // PlanSpec can pin that property on the round plans themselves.
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    // NO distinct here (r7): the output is bounded by |sym| = 2|E|
    // regardless (one row per v>u edge), so skipping the dedup exchange
    // cannot blow up a later stage — smallStar's min-agg is duplicate-
    // insensitive and its own trailing distinct restores canonical form.
    // One full shuffle less per contraction round.
    sym.join(m, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
  }

  private[graft] def smallStar(e: DataFrame): DataFrame = {
    // oriented u > v throughout, so min(N(u)) < u: the (u, m) self edge
    // never degenerates and every emitted edge keeps child > parent
    val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    e.join(m, Seq("u"))
      .select(col("v").as("x"), col("m"))
      .filter(col("x") =!= col("m"))
      .union(m.select(col("u").as("x"), col("m")))
      .select(col("x").as("u"), col("m").as("v")).distinct()
  }

  /** @param preOriented callers whose edge table is ALREADY oriented
    *   u > v and distinct (the materialized near-dup pair table: a < b
    *   distinct by construction) skip the normalizing orient shuffle.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 64,
      preOriented: Boolean = false): DataFrame = {
    require(maxRounds >= 1, s"connectedComponents needs maxRounds >= 1, got $maxRounds")
    def orient(df: DataFrame): DataFrame =
      if (preOriented) df
      else df
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()

    // convergence = the edge set IS a star forest, tested directly:
    // every child has exactly one parent AND no parent is itself a
    // child. With the child > parent orientation both steps maintain,
    // that forces each component to be a star rooted at its minimum —
    // the final answer — so testing the property beats waiting for an
    // unchanged-edge-set fixpoint, which costs one extra full
    // contraction round just to observe that nothing moved.
    //
    // ONE Spark action per probe: tag each endpoint role (child=1,
    // parent=0), fold per node — sum(c) counts the node's parents
    // (edges are distinct), min/max(c) straddling 0 and 1 means the
    // node plays both roles. Any surviving violation row = not a star
    // forest yet.
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("u").as("node"), lit(1).as("c"))
        .union(e.select(col("v").as("node"), lit(0).as("c")))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("nParents"),
          min(col("c")).as("minC"), max(col("c")).as("maxC"))
        .filter(col("nParents") > 1 || (col("minC") === 0 && col("maxC") === 1))
        .isEmpty
    // r7: no pre-loop probe (the initial isEmpty + isStarForest jobs).
    // Contraction is the identity on a star forest (largeStar and
    // smallStar both map a star to itself — see the orientation
    // argument above), so running round 1 unconditionally is correct;
    // the common case (a fresh pair graph with chains, never a star
    // forest) saves two driver round-trips, the rare already-converged
    // case pays one cheap identity round.
    var cur = orient(edges).localCheckpoint()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      cur = smallStar(largeStar(cur)).localCheckpoint()
      converged = isStarForest(cur)
      rounds += 1
    }
    // at the fixpoint the edge list is a star forest: (member, root)
    require(converged, s"CC did not converge in $rounds rounds")
    cur.select(col("u").as("node"), col("v").as("rep"))
      .union(cur.select(col("v").as("node"), col("v").as("rep")))
      .distinct()
  }
}
