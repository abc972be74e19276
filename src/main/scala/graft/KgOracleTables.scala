package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.ops.SnapshotCache
import graft.pipeline.Pipeline

/** Oracle-aux materialization for the corpus-level KG stages.
  *
  * The per-document kernel (tokenize -> chunk -> variant -> evaluate) is
  * legitimately not SQL-expressible, but every stage DOWNSTREAM of the
  * mention table is: WSD is a window rank, the pair join + semnet
  * licensing is two equi-joins, the graph rollup is a groupBy, degrees is
  * union+agg, and fixed-iteration PageRank is chained CTEs. So the gate
  * materializes the deterministic PRE-WSD mention table (plus the two
  * broadcast dims) to parquet once per process, and every kg_* oracle is
  * an independent DuckDB recomputation over that parquet — putting the
  * pipeline's shuffle stages under the driver's hard rows+schema+hash
  * signal instead of a rows-only count.
  *
  * This mirrors the 100 TB deployment shape: the mention table IS the
  * natural checkpoint between the embarrassingly-parallel kernel scan and
  * the shuffled corpus-level stages (the same boundary IcebergLite
  * checkpoints for resume), so verifying downstream-of-mentions is
  * verifying exactly the stages that shuffle.
  *
  * The four tables are `SnapshotCache` snapshots (`kg_mentions`,
  * `kg_semnet`, `kg_cui_pref`, `kg_treecodes`), so each JVM writes its
  * own version once and every kg query in that process reuses it; a
  * dump left by an older build is never read.
  */
object KgOracleTables {

  /** The sf dir of the LAST ensure() call — Verify dumps oracle_sql AFTER
    * running the queries, so by dump time the globs below name the
    * snapshot versions the queries ran against. Before any ensure() the
    * globs name a version no JVM writes, so the oracles find no files.
    */
  @volatile private var lastSf: String = "sf0.01"

  /** Write (once per JVM per sf dir) the pre-WSD mention table and the
    * broadcast dims; return the mention table. Deterministic content:
    * same corpus generator, same kernel, so any process writing the same
    * build's dump writes the same rows.
    */
  def ensure(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    lastSf = sfDir
    lazy val umls = Pipeline.broadcastUmls(spark)
    implicit val s: SparkSession = spark
    val mentions = SnapshotCache.ensure(spark, sfDir, "kg_mentions") {
      Pipeline.mentions(CorpusGen.pages(spark, KgQueries.pagesFor(sfDir)), umls).toDF()
        .withColumn("st_prio", Pipeline.stPrioCol(umls.value))
        // the json forms are EXACTLY GateSafe's to_json, so oracles over the
        // stringified gate projections compare byte-for-byte
        .withColumn("semTypes_json", to_json(col("semTypes")))
        .withColumn("posInfo_json", to_json(col("posInfo")))
        .withColumn("sources_json", to_json(col("sources")))
        // the rendered StartPos/Length chunk (shared Column with the
        // fielded builder, so the two engines aggregate identical strings)
        .withColumn("pos_str", ops.MmiRank.posChunkCol)
        // the rendered long-name semtype display (shared Column with the
        // human builder)
        .withColumn("st_disp", output.JsonOutput.stDisplayCol)
        .drop("posInfo", "sources")
        .coalesce(4)
    }
    SnapshotCache.ensure(spark, sfDir, "kg_semnet") {
      Pipeline.semnetRows(umls.value).toDF("st1", "rel", "st2").coalesce(1)
    }
    SnapshotCache.ensure(spark, sfDir, "kg_cui_pref") {
      umls.value.cuiPreferred.toSeq.toDF("pcui", "pname").coalesce(1)
    }
    SnapshotCache.ensure(spark, sfDir, "kg_treecodes") {
      umls.value.treecodes.toSeq
        .map { case (c, tcs) =>
          (c, tcs.map(_.split('.').length).max, tcs.sorted.mkString(";"))
        }
        .toDF("tcui", "tree_depth", "codes")
        .coalesce(1)
    }
    mentions
  }

  // ---------- DuckDB oracle SQL (built at dump time so the embedded
  // absolute paths point at the dump the queries ran against) ----------

  private def glob(name: String) = s"'${SnapshotCache.currentPath(lastSf, name)}/*.parquet'"
  private def mentionsGlob = glob("kg_mentions")
  private def semnetGlob = glob("kg_semnet")
  private def prefGlob = glob("kg_cui_pref")
  private def treecodesGlob = glob("kg_treecodes")

  /** WSD window dedup over the raw mention table (W1: exactly one CUI per
    * span; score desc, semtype prior, cui).
    */
  private def wsdCte: String =
    s"""m AS (SELECT * FROM read_parquet($mentionsGlob)),
       |w AS (SELECT *, ROW_NUMBER() OVER (
       |        PARTITION BY url, "sentNo", "start", "len"
       |        ORDER BY score DESC, st_prio, cui) rk FROM m),
       |d AS (SELECT * FROM w WHERE rk = 1)""".stripMargin

  /** Triples from the deduped mentions: sentence-window pair join +
    * semnet licensing in canonical direction, both ways, distinct.
    */
  private def triplesCte: String =
    s"""$wsdCte,
       |x AS (SELECT url, "sentNo", "start", cui, unnest("semTypes") AS st
       |      FROM d WHERE NOT negated),
       |sn AS (SELECT * FROM read_parquet($semnetGlob)),
       |p AS (SELECT a.url, a."sentNo", a.cui subj_cui, a.st subj_st,
       |             b.cui obj_cui, b.st obj_st
       |      FROM x a JOIN x b ON a.url = b.url AND a."sentNo" = b."sentNo"
       |      WHERE a."start" < b."start" AND a.cui <> b.cui),
       |trip AS (
       |  SELECT DISTINCT subj_cui, pred, obj_cui, url, "sentNo" FROM (
       |    SELECT p.subj_cui, sn.rel pred, p.obj_cui, p.url, p."sentNo"
       |    FROM p JOIN sn ON p.subj_st = sn.st1 AND p.obj_st = sn.st2
       |    UNION ALL
       |    SELECT p.obj_cui AS subj_cui, sn.rel pred, p.subj_cui AS obj_cui,
       |           p.url, p."sentNo"
       |    FROM p JOIN sn ON p.obj_st = sn.st1 AND p.subj_st = sn.st2))""".stripMargin

  /** Graph rollup: evidence = distinct (url, sentNo) occurrences, docs =
    * distinct urls, preferred names via the MRCONSO-style dim.
    */
  private def graphCte: String =
    s"""$triplesCte,
       |g AS (SELECT subj_cui, pred, obj_cui,
       |        CAST(COUNT(*) AS BIGINT) n_evidence,
       |        CAST(COUNT(DISTINCT url) AS BIGINT) n_docs
       |      FROM trip GROUP BY 1, 2, 3),
       |pref AS (SELECT * FROM read_parquet($prefGlob)),
       |graph AS (SELECT g.subj_cui, g.pred, g.obj_cui, g.n_evidence, g.n_docs,
       |        COALESCE(ps.pname, g.subj_cui) AS subj_name,
       |        COALESCE(po.pname, g.obj_cui) AS obj_name
       |      FROM g LEFT JOIN pref ps ON g.subj_cui = ps.pcui
       |             LEFT JOIN pref po ON g.obj_cui = po.pcui)""".stripMargin

  def kgMentionsSql: String =
    s"""WITH $wsdCte
       |SELECT url, "sentNo", "start", "len", cui, score,
       |  semTypes_json AS "semTypes", negated, text,
       |  posInfo_json AS "posInfo", sources_json AS sources,
       |  term, "lexCat"
       |FROM d""".stripMargin

  def kgNegatedSql: String =
    s"""WITH $wsdCte
       |SELECT url, "sentNo", "start", "len", cui, score,
       |  semTypes_json AS "semTypes", negated, text,
       |  posInfo_json AS "posInfo", sources_json AS sources,
       |  term, "lexCat"
       |FROM d WHERE negated""".stripMargin

  def kgWsdDedupSql: String =
    s"""WITH $wsdCte
       |SELECT url, "sentNo", "start", "len", cui, score, negated
       |FROM d""".stripMargin

  def kgTriplesSql: String =
    s"""WITH $triplesCte
       |SELECT subj_cui, pred, obj_cui, url, "sentNo" FROM trip""".stripMargin

  def kgGraphSql: String =
    s"""WITH $graphCte
       |SELECT * FROM graph""".stripMargin

  def kgGraphDegreesSql: String =
    s"""WITH $graphCte,
       |e2 AS (SELECT subj_cui cui, obj_cui nbr, pred, n_evidence FROM graph
       |       UNION ALL
       |       SELECT obj_cui, subj_cui, pred, n_evidence FROM graph)
       |SELECT cui, CAST(COUNT(DISTINCT nbr) AS BIGINT) AS n_neighbors,
       |  CAST(COUNT(DISTINCT pred) AS BIGINT) AS n_predicates,
       |  CAST(SUM(n_evidence) AS BIGINT) AS total_evidence
       |FROM e2 GROUP BY cui""".stripMargin

  /** Connected components over the triple edge set: independent
    * recursive-CTE min-label fixpoint (the component minimum propagates
    * across every symmetric edge; every other member is > it, so the
    * lbl < dst guard never blocks it) — verifying the engine's
    * star-contraction loop (GraphOps.connectedComponents) against a
    * different fixpoint formulation. Only nodes on edges appear, matching
    * the Spark operator's contract.
    */
  def kgGraphComponentsSql: String =
    s"""WITH RECURSIVE $triplesCte,
       |e AS (SELECT DISTINCT subj_cui u, obj_cui v FROM trip WHERE subj_cui <> obj_cui),
       |n AS (SELECT u AS id FROM e UNION SELECT v FROM e),
       |sym AS (SELECT u src, v dst FROM e UNION ALL SELECT v, u FROM e),
       |r(node, lbl) AS (
       |  SELECT id, id FROM n
       |  UNION
       |  SELECT s.dst, r.lbl FROM r JOIN sym s ON r.node = s.src
       |  WHERE r.lbl < s.dst)
       |SELECT node AS cui, MIN(lbl) AS component
       |FROM r GROUP BY node ORDER BY cui""".stripMargin

  /** 3-iteration damped PageRank as chained CTEs, mirroring
    * GraphOps.pageRank (rank_0 = 1.0; rank = 0.15 + 0.85 * sum of
    * incoming rank/deg; dangling mass leaks). All arithmetic forced to
    * DOUBLE so both engines run the identical IEEE ops.
    */
  def kgPagerankSql: String =
    s"""WITH $triplesCte,
       |e AS (SELECT DISTINCT subj_cui src, obj_cui dst FROM trip),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) deg FROM e GROUP BY src),
       |v AS (SELECT src id FROM e UNION SELECT dst FROM e),
       |c1 AS (SELECT e.dst id, SUM(CAST(1.0 AS DOUBLE) / d.deg) contrib
       |       FROM e JOIN deg d ON e.src = d.src GROUP BY e.dst),
       |r1 AS (SELECT v.id, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE)
       |         * COALESCE(c1.contrib, CAST(0.0 AS DOUBLE)) "rank"
       |       FROM v LEFT JOIN c1 ON v.id = c1.id),
       |c2 AS (SELECT e.dst id, SUM(r1."rank" / d.deg) contrib
       |       FROM e JOIN r1 ON e.src = r1.id JOIN deg d ON e.src = d.src
       |       GROUP BY e.dst),
       |r2 AS (SELECT v.id, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE)
       |         * COALESCE(c2.contrib, CAST(0.0 AS DOUBLE)) "rank"
       |       FROM v LEFT JOIN c2 ON v.id = c2.id),
       |c3 AS (SELECT e.dst id, SUM(r2."rank" / d.deg) contrib
       |       FROM e JOIN r2 ON e.src = r2.id JOIN deg d ON e.src = d.src
       |       GROUP BY e.dst),
       |r3 AS (SELECT v.id, (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE)
       |         * COALESCE(c3.contrib, CAST(0.0 AS DOUBLE)) "rank"
       |       FROM v LEFT JOIN c3 ON v.id = c3.id)
       |SELECT id AS cui, round("rank", 6) AS "rank" FROM r3""".stripMargin

  /** MMI ranking (R1-R5, mmi.pl:781-921) replicated in SQL: the
    * normalize_value log-squashes with n=-5 (freq) and n=-10 (MM score)
    * use exp(5)/exp(10) constants embedded as shortest-round-trip double
    * literals, so both engines run the identical IEEE expression tree.
    */
  private def mmiCte: String = {
    val (a5, b5) = (math.exp(5) + 1.0, math.exp(5) - 1.0)
    val (a10, b10) = (math.exp(10) + 1.0, math.exp(10) - 1.0)
    s"""$wsdCte,
       |tc AS (SELECT * FROM read_parquet($treecodesGlob)),
       |pref AS (SELECT * FROM read_parquet($prefGlob)),
       |tf AS (SELECT url, cui, CAST(COUNT(*) AS BIGINT) freq_count,
       |         CAST(SUM(score) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) mm_value,
       |         list_sort(list_distinct(flatten(list("semTypes")))) st_arr
       |       FROM d GROUP BY url, cui),
       |wm AS (SELECT *, GREATEST(13, MAX(freq_count) OVER (PARTITION BY url))
       |         max_freq FROM tf),
       |j AS (SELECT wm.*, COALESCE(tc.tree_depth, 1) depth,
       |        COALESCE(pref.pname, wm.cui) concept
       |      FROM wm LEFT JOIN tc ON wm.cui = tc.tcui
       |              LEFT JOIN pref ON wm.cui = pref.pcui),
       |sc AS (SELECT url, cui, concept, st_arr, freq_count, mm_value,
       |        ln(($a5 + $b5 * LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
       |            CAST(freq_count AS DOUBLE) / max_freq)))
       |          / ($a5 - $b5 * LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
       |            CAST(freq_count AS DOUBLE) / max_freq)))) / CAST(5.0 AS DOUBLE) nfreq,
       |        (ln(($a10 + $b10 * LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
       |            CAST(mm_value AS DOUBLE) / 1000.0)))
       |          / ($a10 - $b10 * LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
       |            CAST(mm_value AS DOUBLE) / 1000.0)))) / CAST(10.0 AS DOUBLE) * CAST(1.0 AS DOUBLE)
       |         + LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
       |            CAST(depth AS DOUBLE) / 9.0)) * CAST(14.0 AS DOUBLE)
       |         + LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
       |            CAST(len(string_split(concept, ' ')) AS DOUBLE) / 26.0)) * CAST(0.0 AS DOUBLE)
       |         + LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
       |            CAST(length(concept) AS DOUBLE) / 102.0)) * CAST(0.0 AS DOUBLE)
       |        ) / CAST(15.0 AS DOUBLE) spec
       |       FROM j),
       |mmi AS (SELECT url, cui, concept, st_arr, freq_count, mm_value,
       |          round(nfreq * spec * 1000.0, 2) AS mmi_score
       |        FROM sc)""".stripMargin
  }

  def kgMmiRankSql: String =
    s"""WITH $mmiCte
       |SELECT url, cui, concept,
       |  '["' || array_to_string(st_arr, '","') || '"]' AS sem_types,
       |  freq_count, mm_value, mmi_score
       |FROM mmi""".stripMargin

  /** Fielded MMI lines in the reference's full dump_output layout
    * (mmi.pl:907-1005): UI|MMI|score|Concept|CUI|[STs]|[tuples]|TX|PosInfo|
    * TreeCodes — the tuple consolidation, ordering and chunk merge mirror
    * MmiRank.fielded exactly (same keys, same sort) over the same mention
    * checkpoint, so the two engines aggregate identical strings.
    */
  def kgMmiFieldedSql: String =
    s"""WITH $mmiCte,
       |tcd AS (SELECT tcui, codes FROM read_parquet($treecodesGlob)),
       |md AS (SELECT DISTINCT url, cui, term, "sentNo" nsent, text,
       |         "lexCat" lex_cat, CASE WHEN negated THEN 1 ELSE 0 END neg,
       |         "start" st, pos_str
       |       FROM d),
       |cons AS (SELECT url, cui, term, nsent, text, lex_cat, neg,
       |           string_agg(pos_str, ',' ORDER BY st, pos_str) chunk
       |         FROM md GROUP BY url, cui, term, nsent, text, lex_cat, neg),
       |tup AS (SELECT url, cui,
       |          string_agg('"' || term || '"-tx-' || nsent || '-"' || text ||
       |            '"-' || lex_cat || '-' || neg,
       |            ',' ORDER BY -nsent, term, text, lex_cat, neg) tuples,
       |          string_agg(chunk,
       |            ';' ORDER BY -nsent, term, text, lex_cat, neg) posinfo
       |        FROM cons GROUP BY url, cui)
       |SELECT mmi.url, mmi.url || '|MMI|' || printf('%.2f', mmi_score) || '|' ||
       |  concept || '|' || mmi.cui || '|[' || array_to_string(st_arr, ',') ||
       |  ']|[' || tuples || ']|TX|' || posinfo || '|' || COALESCE(codes, '')
       |  AS line
       |FROM mmi JOIN tup ON mmi.url = tup.url AND mmi.cui = tup.cui
       |         LEFT JOIN tcd ON mmi.cui = tcd.tcui""".stripMargin

  /** The human-readable CLI listing: per-document text block, lines
    * sorted by span start within each utterance.
    */
  def kgHumanOutputSql: String =
    s"""WITH $wsdCte,
       |pref AS (SELECT * FROM read_parquet($prefGlob)),
       |n AS (SELECT d.*, COALESCE(pref.pname, d.cui) concept
       |      FROM d LEFT JOIN pref ON d.cui = pref.pcui),
       |lines AS (SELECT url, "sentNo", "start",
       |   printf('%6d', score) || ' ' ||
       |   CASE WHEN negated THEN 'N' ELSE ' ' END || ' ' ||
       |   cui || ':' || term ||
       |   CASE WHEN term <> concept THEN ' (' || concept || ')' ELSE '' END ||
       |   ' ' || st_disp AS line
       | FROM n),
       |utts AS (SELECT url, "sentNo",
       |   'Utterance ' || "sentNo" || ':' || chr(10) ||
       |   string_agg(line, chr(10) ORDER BY "start", line) AS block
       | FROM lines GROUP BY url, "sentNo")
       |SELECT url, 'Processing ' || url || chr(10) ||
       |  string_agg(block, chr(10) ORDER BY "sentNo") AS text
       |FROM utts GROUP BY url""".stripMargin

  /** The per-document JSON shape (skr_json.pl:87-131 analogue): replicates
    * Spark's to_json field order, literals, and string escaping
    * (backslash, quote, tab/CR/LF). The escape replacements are built
    * from chr(92) because this is an s-interpolated Scala string: a
    * literal backslash written as '\\' would be unescaped by the
    * INTERPOLATOR before reaching DuckDB, silently no-op-ing the
    * replacement (exactly what happened to the first version).
    */
  def kgJsonOutputSql: String =
    s"""WITH $wsdCte,
       |jm AS (SELECT url, "sentNo", "start", "len",
       |   '{"start":' || "start" || ',"len":' || "len" || ',"cui":"' || cui ||
       |   '","score":' || score || ',"semTypes":' || semTypes_json ||
       |   ',"negated":' || CASE WHEN negated THEN 'true' ELSE 'false' END ||
       |   ',"text":"' ||
       |   replace(replace(replace(replace(replace(text,
       |     chr(92), chr(92) || chr(92)), '"', chr(92) || '"'),
       |     chr(9), chr(92) || 't'), chr(13), chr(92) || 'r'),
       |     chr(10), chr(92) || 'n') ||
       |   '"}' AS mj
       | FROM d),
       |u AS (SELECT url, "sentNo",
       |   '{"UttNum":' || "sentNo" || ',"Mappings":[' ||
       |   string_agg(mj, ',' ORDER BY "start", "len") || ']}' AS uj
       | FROM jm GROUP BY url, "sentNo")
       |SELECT url, '{"Document":"' || url || '","Utterances":[' ||
       |  string_agg(uj, ',' ORDER BY "sentNo") || ']}' AS json
       |FROM u GROUP BY url""".stripMargin

  /** The MetaMap-XML shape (skr_xml.pl analogue). */
  def kgXmlOutputSql: String = {
    def esc(c: String): String =
      s"replace(replace(replace(replace($c, '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '\"', '&quot;')"
    s"""WITH $wsdCte,
       |c AS (SELECT url, "sentNo", "start",
       |   '<Candidate><Score>' || score || '</Score><CUI>' || cui ||
       |   '</CUI><SemTypes>' || array_to_string("semTypes", ',') ||
       |   '</SemTypes><Negated>' || CAST(negated AS INT) ||
       |   '</Negated><Span start="' || "start" || '" len="' || "len" ||
       |   '"/><MatchedText>' || ${esc("text")} ||
       |   '</MatchedText></Candidate>' AS cx
       | FROM d),
       |u AS (SELECT url, "sentNo",
       |   '<Utterance number="' || "sentNo" || '"><Mappings>' ||
       |   string_agg(cx, '' ORDER BY "start", cx) ||
       |   '</Mappings></Utterance>' AS ux
       | FROM c GROUP BY url, "sentNo")
       |SELECT url, '<MMO><Document id="' || ${esc("url")} ||
       |  '"/><Utterances>' || string_agg(ux, '' ORDER BY "sentNo") ||
       |  '</Utterances></MMO>' AS xml
       |FROM u GROUP BY url""".stripMargin
  }

  /** Built at Verify dump time (defs, not vals) so lastSf is final. */
  def oracleSql: Map[String, String] = Map(
    "kg_mentions" -> kgMentionsSql,
    "kg_negated_mentions" -> kgNegatedSql,
    "kg_wsd_dedup" -> kgWsdDedupSql,
    "kg_triples" -> kgTriplesSql,
    "kg_graph" -> kgGraphSql,
    "kg_graph_degrees" -> kgGraphDegreesSql,
    "kg_graph_components" -> kgGraphComponentsSql,
    "kg_pagerank" -> kgPagerankSql,
    "kg_mmi_rank" -> kgMmiRankSql,
    "kg_mmi_fielded" -> kgMmiFieldedSql,
    // the sink roundtrip and the bounded streaming run must reproduce the
    // batch triples EXACTLY -> both share the triples oracle
    "kg_sink_roundtrip" -> kgTriplesSql,
    "kg_streaming_triples" -> kgTriplesSql,
    "kg_human_output" -> kgHumanOutputSql,
    "kg_json_output" -> kgJsonOutputSql,
    "kg_xml_output" -> kgXmlOutputSql)
}
