package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.matcher.BgpMatcher
import graft.matcher.BgpMatcher.PatternEdge
import graft.measures.{CoreMeasures, Degrees, DistributionMeasures}
import graft.ops.TextOps
import QueryUtil._

/** Second wave of driver-checked queries: power-law fit, pseudo-diameter
  * (largest-component semantics), SA2 induced-subgraph sampling, the generic
  * BGP matcher, and URI prefix/localname slicing (SF4).
  */
object MoreQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_powerlaw" -> ((s, dir) => {
      val deg = Degrees.degrees(liEdges(s, dir))
      roundDoubles(DistributionMeasures.powerlawFit(Degrees.histogram(deg, "deg"))
        .select(round(col("alpha"), 6).as("alpha"), col("xmin")))
    }),

    // in-degree power-law fit (lodcc `degree_based.py:168-173`:
    // powerlaw_exponent_in_degree / _dmin)
    "kg_powerlaw_in" -> ((s, dir) => {
      val deg = Degrees.degrees(liEdges(s, dir))
      roundDoubles(DistributionMeasures.powerlawFit(Degrees.histogram(deg, "in_deg"))
        .select(round(col("alpha"), 6).as("alpha"), col("xmin")))
    }),

    // labeled snowflake match: WatDiv f1 with its predicates mapped onto the
    // p0..p6 vocabulary, on a 512k-vertex slice whose width scales with SF
    // (QueryUtil.liScale) so DENSITY stays constant: a 6-way join's
    // embeddings grow ~degree^6, and the pre-guard fixed-512 slice ground
    // 47 minutes in one task at sf1 (10× rows = 10× mean degree)
    "kg_bgp_snowflake" -> ((s, dir) => {
      val k = liScale(s, dir)
      val e = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % (4096 * k) < 512 * k &&
          col("l_partkey") % (4096 * k) < 512 * k)
        .select(
          concat(lit("v"), (col("l_orderkey") % (512 * k)).cast("string")).as("src"),
          concat(lit("v"), (col("l_partkey") % (512 * k)).cast("string")).as("dst"),
          concat(lit("p"), (col("l_suppkey") % 7).cast("string")).as("label"))
      val pmap = Map("og:tag" -> "p1", "rdf:type" -> "p0", "wsdbm:hasGenre" -> "p2",
        "sorg:trailer" -> "p3", "sorg:keywords" -> "p4")
      val m = BgpMatcher.find(e, graft.matcher.QueryTemplates.f1.labeled(pmap))
      m.agg(count(lit(1)).as("snowflake_embeddings"),
        count_distinct(col("v3")).as("distinct_hubs"))
    }),

    "kg_pseudo_diameter" -> ((s, dir) => {
      val nation = s.read.parquet(s"$dir/nation.parquet")
        .select(concat(lit("n"), col("n_nationkey").cast("string")).as("src"),
          concat(lit("r"), col("n_regionkey").cast("string")).as("dst"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(concat(lit("c"), (col("c_custkey") % 40).cast("string")).as("src"),
          concat(lit("n"), col("c_nationkey").cast("string")).as("dst"))
      CoreMeasures.pseudoDiameter(nation.union(cust))
    }),

    // shared-CC measure bundle (VERDICT r4 next #3): ONE connected-components
    // fixpoint feeds pseudo-diameter (via the precomputedCC hook), the
    // component census, and the largest-component size — the plan contains
    // exactly one CC loop where three independent measure calls would pay
    // three. The graph adds a DISJOINT supplier component to the
    // nation/customer graph so the largest-component selection is exercised
    // for real (the supplier part is always smaller: <= 30+25 vertices vs
    // the customer part's 40+25+5).
    "kg_measures_shared" -> ((s, dir) => {
      import graft.algo.ConnectedComponents
      val nation = s.read.parquet(s"$dir/nation.parquet")
        .select(concat(lit("n"), col("n_nationkey").cast("string")).as("src"),
          concat(lit("r"), col("n_regionkey").cast("string")).as("dst"))
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(concat(lit("c"), (col("c_custkey") % 40).cast("string")).as("src"),
          concat(lit("n"), col("c_nationkey").cast("string")).as("dst"))
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select(concat(lit("s"), (col("s_suppkey") % 30).cast("string")).as("src"),
          concat(lit("m"), col("s_nationkey").cast("string")).as("dst"))
      val edges = nation.union(cust).union(supp)
      val cc = ConnectedComponents.run(edges).cache() // the ONE fixpoint
      val sizes = ConnectedComponents.componentSizes(cc)
      val census = sizes.agg(
        count(lit(1)).cast("bigint").as("n_components"),
        max(col("size")).cast("bigint").as("largest_component_size"),
        sum(col("size")).cast("bigint").as("n_vertices"))
      val pd = CoreMeasures.pseudoDiameter(edges, Some(cc))
      pd.crossJoin(census)
    }),

    // sampled harmonic centrality (engine addition): k=4 seed vertices
    // (top out-degree over the DISTINCT edge set, ties to the greatest
    // vertex), ONE multi-source BFS fixpoint — the frontier is keyed
    // (seed, vertex), so k seeds cost max-eccentricity rounds total, the
    // scale shape for sampled centralities at constant k —
    // harmonic(v) = sum over seeds s of 1/d(s, v), d > 0
    "kg_harmonic" -> ((s, dir) => {
      import graft.algo.Bfs
      val adj = Bfs.prepareAdj(liEdges(s, dir))
      Bfs.levels(adj, Bfs.topOutDegree(adj, 4)).where(col("dist") > 0)
        .groupBy("vertex")
        .agg(round(sum(lit(1.0) / col("dist")), 6).as("harmonic"),
          count(lit(1)).cast("bigint").as("n_seeds_reaching"))
    }),

    "kg_sample_vertex" -> ((s, dir) => {
      // SA2 induced subgraph with engine-portable vertex predicate
      val e = liEdges(s, dir)
      val keep = (c: org.apache.spark.sql.Column) =>
        TextOps.portableHash64(c) % 100 < 40
      e.where(keep(col("src")) && keep(col("dst")))
        .agg(count(lit(1)).as("induced_m"),
          count_distinct(col("src")).as("induced_srcs"),
          count_distinct(col("src"), col("dst")).as("induced_pairs"))
    }),

    "kg_bgp_matcher" -> ((s, dir) => {
      // generic matcher: ?a -p1-> ?b -p2-> ?c with vertex-disjoint semantics
      val m = BgpMatcher.find(liEdges(s, dir), Seq(
        PatternEdge("a", "b", Some("p1")),
        PatternEdge("b", "c", Some("p2"))))
      m.agg(count(lit(1)).as("embeddings"),
        count_distinct(col("a")).as("distinct_a"))
    }),

    "kg_uri_parse" -> ((s, dir) => {
      val uris = s.read.parquet(s"$dir/part.parquet").select(
        concat(lit("<http://example.org/g"), (col("p_partkey") % 5).cast("string"),
          when(col("p_partkey") % 2 === 0, "#").otherwise("/"),
          lit("item"), col("p_partkey").cast("string"), lit(">")).as("uri"))
      val parsed = uris.select(BgpMatcher.uriPrefixLocal(col("uri")).as("p"))
        .select(col("p.prefix").as("prefix"), col("p.localname").as("localname"))
      parsed.groupBy("prefix").agg(
        count(lit(1)).as("n"),
        count_distinct(col("localname")).as("distinct_locals"))
        .orderBy("prefix")
    }),
  )

  private def powerlawSql(column: String = "deg"): String =
    s"""$edgesCte,
       |hist AS (SELECT CAST($column AS DOUBLE) AS x, CAST(count(*) AS BIGINT) AS cnt FROM degv GROUP BY 1),
       |pos AS (SELECT * FROM hist WHERE x > 0),
       |pairs AS (SELECT c.x AS xmin, h.x, h.cnt FROM (SELECT x FROM pos) c JOIN pos h ON h.x >= c.x),
       |st AS (
       |  SELECT xmin, sum(cnt) AS nt, sum(cnt * ln(x / xmin)) AS sumlog, count(*) AS nd
       |  FROM pairs GROUP BY xmin
       |  HAVING sum(cnt * ln(x / xmin)) > 0 AND count(*) >= 2),
       |st2 AS (SELECT xmin, nt, 1.0 + nt / sumlog AS alpha FROM st),
       |kd AS (
       |  SELECT p.xmin, s.alpha,
       |         abs(sum(p.cnt) OVER (PARTITION BY p.xmin ORDER BY p.x
       |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / CAST(s.nt AS DOUBLE)
       |             - (1.0 - pow(p.x / p.xmin, 1.0 - s.alpha))) AS d
       |  FROM pairs p JOIN st2 s USING (xmin)),
       |ksq AS (SELECT xmin, alpha, max(d) AS ks FROM kd GROUP BY xmin, alpha)
       |SELECT CAST(round(alpha, 6) AS DOUBLE) AS alpha, xmin
       |FROM ksq ORDER BY round(ks, 9) ASC, xmin ASC LIMIT 1""".stripMargin

  private val smallCte: String =
    """WITH ge AS (
      |  SELECT 'n' || n_nationkey AS src, 'r' || n_regionkey AS dst FROM nation
      |  UNION ALL
      |  SELECT 'c' || (c_custkey % 40) AS src, 'n' || c_nationkey AS dst FROM customer
      |)""".stripMargin

  /** Two-sweep pseudo-diameter oracle: the small graph is one weak component
    * (so LC = graph; source = max-out-degree vertex, ties to greatest) and
    * every farthest vertex is a sink, so the algorithm's sweep loop
    * terminates after the second sweep — expressible as two recursive-CTE
    * BFS passes.
    */
  private def pseudoDiameterSql: String =
    s"""$smallCte,
       |src0 AS (SELECT src AS v FROM ge GROUP BY src ORDER BY count(*) DESC, src DESC LIMIT 1),
       |b1 AS (
       |  SELECT vertex, min(dist) AS dist FROM (
       |    WITH RECURSIVE d(vertex, dist) AS (
       |      SELECT v, 0 FROM src0
       |      UNION ALL
       |      SELECT e.dst, d.dist + 1 FROM d JOIN ge e ON e.src = d.vertex WHERE d.dist < 10
       |    ) SELECT vertex, dist FROM d) t GROUP BY vertex),
       |far1 AS (SELECT vertex, dist FROM b1 ORDER BY dist DESC, vertex DESC LIMIT 1),
       |b2 AS (
       |  SELECT vertex, min(dist) AS dist FROM (
       |    WITH RECURSIVE d2(vertex, dist) AS (
       |      SELECT vertex, 0 FROM far1
       |      UNION ALL
       |      SELECT e.dst, d2.dist + 1 FROM d2 JOIN ge e ON e.src = d2.vertex WHERE d2.dist < 10
       |    ) SELECT vertex, dist FROM d2) t GROUP BY vertex),
       |far2 AS (SELECT vertex, dist FROM b2 ORDER BY dist DESC, vertex DESC LIMIT 1)
       |SELECT
       |  CAST(CASE WHEN (SELECT dist FROM far2) > (SELECT dist FROM far1)
       |       THEN (SELECT dist FROM far2) ELSE (SELECT dist FROM far1) END AS BIGINT) AS pseudo_diameter,
       |  CASE WHEN (SELECT dist FROM far2) > (SELECT dist FROM far1)
       |       THEN (SELECT vertex FROM far1) ELSE (SELECT v FROM src0) END AS pseudo_diameter_src_vertex,
       |  CASE WHEN (SELECT dist FROM far2) > (SELECT dist FROM far1)
       |       THEN (SELECT vertex FROM far2) ELSE (SELECT vertex FROM far1) END AS pseudo_diameter_trg_vertex""".stripMargin

  /** Shared-measure oracle: CC over the 3-part union graph via the same
    * min-reachable recursive CTE as kg_cc, largest component selected by
    * (size desc, id asc), pseudo-diameter's two BFS sweeps restricted to
    * the LC's edges (the LC is the nation/customer part, where every
    * farthest vertex is a sink, so two sweeps terminate the loop).
    */
  private def measuresSharedSql: String =
    """WITH allge AS (
      |  SELECT 'n' || n_nationkey AS src, 'r' || n_regionkey AS dst FROM nation
      |  UNION ALL
      |  SELECT 'c' || (c_custkey % 40) AS src, 'n' || c_nationkey AS dst FROM customer
      |  UNION ALL
      |  SELECT 's' || (s_suppkey % 30) AS src, 'm' || s_nationkey AS dst FROM supplier),
      |ue AS (SELECT src AS a, dst AS b FROM allge UNION SELECT dst, src FROM allge),
      |verts AS (SELECT DISTINCT a AS v FROM ue),
      |comp AS (
      |  SELECT v AS vertex, min(r) AS component FROM (
      |    WITH RECURSIVE reach(v, r) AS (
      |      SELECT v, v FROM verts
      |      UNION
      |      SELECT reach.v, ue.b FROM reach JOIN ue ON ue.a = reach.r
      |    ) SELECT v, r FROM reach) t GROUP BY v),
      |sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY component),
      |lc AS (SELECT component FROM sizes ORDER BY sz DESC, component ASC LIMIT 1),
      |lcmem AS (SELECT vertex FROM comp WHERE component = (SELECT component FROM lc)),
      |ge AS (SELECT src, dst FROM allge
      |       WHERE src IN (SELECT vertex FROM lcmem)
      |         AND dst IN (SELECT vertex FROM lcmem)),
      |src0 AS (SELECT src AS v FROM ge GROUP BY src ORDER BY count(*) DESC, src DESC LIMIT 1),
      |b1 AS (
      |  SELECT vertex, min(dist) AS dist FROM (
      |    WITH RECURSIVE d(vertex, dist) AS (
      |      SELECT v, 0 FROM src0
      |      UNION ALL
      |      SELECT e.dst, d.dist + 1 FROM d JOIN ge e ON e.src = d.vertex WHERE d.dist < 10
      |    ) SELECT vertex, dist FROM d) t GROUP BY vertex),
      |far1 AS (SELECT vertex, dist FROM b1 ORDER BY dist DESC, vertex DESC LIMIT 1),
      |b2 AS (
      |  SELECT vertex, min(dist) AS dist FROM (
      |    WITH RECURSIVE d2(vertex, dist) AS (
      |      SELECT vertex, 0 FROM far1
      |      UNION ALL
      |      SELECT e.dst, d2.dist + 1 FROM d2 JOIN ge e ON e.src = d2.vertex WHERE d2.dist < 10
      |    ) SELECT vertex, dist FROM d2) t GROUP BY vertex),
      |far2 AS (SELECT vertex, dist FROM b2 ORDER BY dist DESC, vertex DESC LIMIT 1)
      |SELECT
      |  CAST(CASE WHEN (SELECT dist FROM far2) > (SELECT dist FROM far1)
      |       THEN (SELECT dist FROM far2) ELSE (SELECT dist FROM far1) END AS BIGINT) AS pseudo_diameter,
      |  CASE WHEN (SELECT dist FROM far2) > (SELECT dist FROM far1)
      |       THEN (SELECT vertex FROM far1) ELSE (SELECT v FROM src0) END AS pseudo_diameter_src_vertex,
      |  CASE WHEN (SELECT dist FROM far2) > (SELECT dist FROM far1)
      |       THEN (SELECT vertex FROM far2) ELSE (SELECT vertex FROM far1) END AS pseudo_diameter_trg_vertex,
      |  (SELECT CAST(count(*) AS BIGINT) FROM sizes) AS n_components,
      |  (SELECT CAST(max(sz) AS BIGINT) FROM sizes) AS largest_component_size,
      |  (SELECT CAST(count(*) AS BIGINT) FROM comp) AS n_vertices""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "kg_powerlaw" -> powerlawSql(),
    "kg_powerlaw_in" -> powerlawSql("in_deg"),
    "kg_pseudo_diameter" -> pseudoDiameterSql,
    "kg_measures_shared" -> measuresSharedSql,

    // BFS via a DEDUPING recursion — (seed, vertex, dist) triples, not
    // paths — so the dense liEdges graph cannot blow up the CTE; min(dist)
    // per (seed, vertex) is the BFS distance. Depth cap 12 >> the dense
    // graph's eccentricity (~4); a cap breach would surface as a parity
    // mismatch, not a silent truncation.
    "kg_harmonic" ->
      s"""$edgesCte,
         |de AS (SELECT DISTINCT src, dst FROM edges),
         |seeds AS (SELECT src AS seed FROM de GROUP BY src
         |          ORDER BY count(*) DESC, src DESC LIMIT 4),
         |d AS (
         |  SELECT seed, vertex, min(dist) AS dist FROM (
         |    WITH RECURSIVE r(seed, vertex, dist) AS (
         |      SELECT seed, seed, 0 FROM seeds
         |      UNION
         |      SELECT r.seed, de.dst, r.dist + 1
         |      FROM r JOIN de ON de.src = r.vertex WHERE r.dist < 12
         |    ) SELECT seed, vertex, dist FROM r) t
         |  GROUP BY seed, vertex)
         |SELECT vertex,
         |  CAST(round(sum(1.0/dist), 6) AS DOUBLE) AS harmonic,
         |  CAST(count(*) AS BIGINT) AS n_seeds_reaching
         |FROM d WHERE dist > 0 GROUP BY vertex""".stripMargin,

    "kg_bgp_snowflake" ->
      s"""WITH sc AS MATERIALIZED (SELECT $liScaleSql AS k FROM lineitem),
        |edges AS MATERIALIZED (
        |  SELECT 'v' || (l_orderkey % (512 * (SELECT k FROM sc))) AS src,
        |         'v' || (l_partkey % (512 * (SELECT k FROM sc))) AS dst,
        |         'p' || (l_suppkey % 7) AS label
        |  FROM lineitem
        |  WHERE l_orderkey % (4096 * (SELECT k FROM sc)) < 512 * (SELECT k FROM sc)
        |    AND l_partkey % (4096 * (SELECT k FROM sc)) < 512 * (SELECT k FROM sc)),
        |m AS (
        |  SELECT v0, v1, v2, v3, v4, v5, v6 FROM
        |    (SELECT src AS v3, dst AS v0 FROM edges WHERE label = 'p2') e2
        |    JOIN (SELECT src AS v3, dst AS v4 FROM edges WHERE label = 'p3') e3 USING (v3)
        |    JOIN (SELECT src AS v3, dst AS v5 FROM edges WHERE label = 'p0') e4 USING (v3)
        |    JOIN (SELECT src AS v3, dst AS v6 FROM edges WHERE label = 'p4') e5 USING (v3)
        |    JOIN (SELECT src AS v0, dst AS v1 FROM edges WHERE label = 'p1') e0 USING (v0)
        |    JOIN (SELECT src AS v0, dst AS v2 FROM edges WHERE label = 'p0') e1 USING (v0)
        |  WHERE v0 <> v1 AND v0 <> v2 AND v0 <> v3 AND v0 <> v4 AND v0 <> v5 AND v0 <> v6
        |    AND v1 <> v2 AND v1 <> v3 AND v1 <> v4 AND v1 <> v5 AND v1 <> v6
        |    AND v2 <> v3 AND v2 <> v4 AND v2 <> v5 AND v2 <> v6
        |    AND v3 <> v4 AND v3 <> v5 AND v3 <> v6
        |    AND v4 <> v5 AND v4 <> v6 AND v5 <> v6)
        |SELECT CAST(count(*) AS BIGINT) AS snowflake_embeddings,
        |       CAST(count(DISTINCT v3) AS BIGINT) AS distinct_hubs
        |FROM m""".stripMargin,

    "kg_sample_vertex" ->
      s"""$edgesCte,
         |kept AS (
         |  SELECT * FROM edges
         |  WHERE ('0x' || substr(md5(src), 1, 15))::BIGINT % 100 < 40
         |    AND ('0x' || substr(md5(dst), 1, 15))::BIGINT % 100 < 40)
         |SELECT CAST(count(*) AS BIGINT) AS induced_m,
         |       CAST(count(DISTINCT src) AS BIGINT) AS induced_srcs,
         |       CAST((SELECT count(*) FROM (SELECT DISTINCT src, dst FROM kept) p) AS BIGINT) AS induced_pairs
         |FROM kept""".stripMargin,

    "kg_bgp_matcher" ->
      s"""$edgesCte
         |SELECT CAST(count(*) AS BIGINT) AS embeddings,
         |       CAST(count(DISTINCT a) AS BIGINT) AS distinct_a
         |FROM (
         |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
         |  WHERE e1.label = 'p1' AND e2.label = 'p2'
         |    AND e1.src <> e1.dst AND e1.dst <> e2.dst AND e1.src <> e2.dst) m""".stripMargin,

    "kg_uri_parse" ->
      """WITH uris AS (
        |  SELECT '<http://example.org/g' || (p_partkey % 5) ||
        |         (CASE WHEN p_partkey % 2 = 0 THEN '#' ELSE '/' END) ||
        |         'item' || p_partkey || '>' AS uri
        |  FROM part),
        |parsed AS (
        |  SELECT regexp_extract(uri, '^<(.*[/#])[^/#]*>$', 1) AS prefix,
        |         regexp_extract(uri, '^<.*[/#]([^/#]*)>$', 1) AS localname
        |  FROM uris)
        |SELECT prefix, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT localname) AS BIGINT) AS distinct_locals
        |FROM parsed GROUP BY prefix ORDER BY prefix""".stripMargin,
  )
}
