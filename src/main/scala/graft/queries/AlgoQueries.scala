package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.{Bfs, ConnectedComponents, Hits, KCore, KTruss, LabelPropagation, PageRank}
import graft.graph.GraphTables
import graft.sources.NTriples
import QueryUtil._

/** Driver-checked queries for the iterative / join-shaped operators
  * (SURVEY.md §2.3 J1-J4, §2.6 G1-G4, §2.8, S4/S11). Oracles use recursive
  * CTEs (CC, BFS), an unrolled 10-step recurrence (PageRank) and plain
  * multiway joins (BGP) in DuckDB.
  */
object AlgoQueries {

  /** Small two-layer graph: customers (folded mod 40) -> nations -> regions.
    * 70 vertices — sized so the DuckDB recursive-closure oracle is cheap.
    */
  private def smallEdges(s: SparkSession, dir: String): DataFrame = {
    val nation = s.read.parquet(s"$dir/nation.parquet")
      .select(concat(lit("n"), col("n_nationkey").cast("string")).as("src"),
        concat(lit("r"), col("n_regionkey").cast("string")).as("dst"))
    val cust = s.read.parquet(s"$dir/customer.parquet")
      .select(concat(lit("c"), (col("c_custkey") % 40).cast("string")).as("src"),
        concat(lit("n"), col("c_nationkey").cast("string")).as("dst"))
    nation.union(cust)
  }

  private val smallCte: String =
    """WITH ge AS (
      |  SELECT 'n' || n_nationkey AS src, 'r' || n_regionkey AS dst FROM nation
      |  UNION ALL
      |  SELECT 'c' || (c_custkey % 40) AS src, 'n' || c_nationkey AS dst FROM customer
      |)""".stripMargin

  /** Unrolled PageRank recurrence r0..r10 (graft.algo.PageRank.runFixed).
    * `finalSelect` renders the terminal SELECT over the last step's table.
    */
  private def pagerankSql(iters: Int,
      finalSelect: String => String = last =>
        s"SELECT vertex, CAST(round(rank, 6) AS DOUBLE) AS rank FROM $last ORDER BY vertex"): String = {
    val steps = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT v.v AS vertex, CAST(0.15 + 0.85 * coalesce(c.s, 0) AS DOUBLE) AS rank
         |  FROM verts v LEFT JOIN (
         |    SELECT l.dst AS d, sum(r.rank / l.outd) AS s
         |    FROM links l JOIN r${k - 1} r ON r.vertex = l.src
         |    GROUP BY l.dst) c ON c.d = v.v)""".stripMargin
    }.mkString(",\n")
    s"""$smallCte,
       |links AS (
       |  SELECT e.src, e.dst, o.outd FROM ge e
       |  JOIN (SELECT src, CAST(count(*) AS DOUBLE) AS outd FROM ge GROUP BY src) o ON o.src = e.src),
       |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM ge UNION ALL SELECT dst FROM ge) u),
       |r0 AS (SELECT v AS vertex, CAST(0.15 AS DOUBLE) AS rank FROM verts),
       |$steps
       |${finalSelect(s"r$iters")}""".stripMargin
  }

  /** Unrolled WEIGHTED PageRank recurrence (PageRank.runWeightedFixed):
    * contributions rank·w/wsum over the multiplicity-collapsed graph.
    */
  private def weightedPagerankSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT v.v AS vertex, CAST(0.15 + 0.85 * coalesce(c.s, 0) AS DOUBLE) AS rank
         |  FROM verts v LEFT JOIN (
         |    SELECT l.dst AS d, sum(r.rank * l.w / l.wsum) AS s
         |    FROM links l JOIN r${k - 1} r ON r.vertex = l.src
         |    GROUP BY l.dst) c ON c.d = v.v)""".stripMargin
    }.mkString(",\n")
    s"""$smallCte,
       |we AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM ge GROUP BY 1, 2),
       |links AS (
       |  SELECT e.src, e.dst, e.w, o.wsum FROM we e
       |  JOIN (SELECT src, sum(w) AS wsum FROM we GROUP BY src) o ON o.src = e.src),
       |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM we UNION ALL SELECT dst FROM we) u),
       |r0 AS (SELECT v AS vertex, CAST(0.15 AS DOUBLE) AS rank FROM verts),
       |$steps
       |SELECT vertex, CAST(round(rank, 6) AS DOUBLE) AS rank FROM r$iters ORDER BY vertex""".stripMargin
  }

  /** Unrolled k-core peel d1/e1..dR/eR (graft.algo.KCore.kCore): each
    * round recomputes degrees over the surviving simple undirected edge
    * set and keeps edges whose BOTH endpoints have degree >= k.
    */
  /** k-truss unrolled `rounds` support-peel rounds (>= the fixpoint on
    * both fixtures; extra rounds are no-ops on both engines). Triangle
    * enumeration is the id-ordered a<b<c 3-way join — per-edge SUPPORT is
    * orientation-invariant, so it matches the Spark side's degree-ordered
    * enumeration exactly. MATERIALIZED for the same CTE-inlining reason
    * as the k-core unroll below.
    */
  private def ktrussSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""tri$i AS MATERIALIZED (
         |  SELECT x.a AS ta, x.b AS tb, y.b AS tc
         |  FROM e${i - 1} x JOIN e${i - 1} y ON y.a = x.b
         |  JOIN e${i - 1} z ON z.a = x.a AND z.b = y.b),
         |sup$i AS MATERIALIZED (
         |  SELECT a, b, count(*) AS s FROM (
         |    SELECT ta AS a, tb AS b FROM tri$i
         |    UNION ALL SELECT ta, tc FROM tri$i
         |    UNION ALL SELECT tb, tc FROM tri$i) u GROUP BY 1, 2),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b, s.s FROM e${i - 1} e
         |  JOIN sup$i s ON s.a = e.a AND s.b = e.b
         |  WHERE s.s >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH sc AS MATERIALIZED (SELECT $liScaleSql AS k FROM lineitem),
       |le AS (
       |  SELECT 'v' || (l_orderkey % (32768 * (SELECT k FROM sc))) AS src,
       |         'v' || (l_partkey % (32768 * (SELECT k FROM sc))) AS dst
       |  FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM le WHERE src <> dst),
       |$steps,
       |verts AS (SELECT count(DISTINCT v) AS nv FROM (
       |  SELECT a AS v FROM e$rounds UNION ALL SELECT b FROM e$rounds) u)
       |SELECT CAST(count(*) AS BIGINT) AS truss_edges,
       |       CAST(coalesce(min(s), 0) AS BIGINT) AS min_support,
       |       CAST(coalesce(max(s), 0) AS BIGINT) AS max_support,
       |       CAST(coalesce(sum(s), 0) AS BIGINT) AS support_checksum,
       |       CAST((SELECT nv FROM verts) AS BIGINT) AS truss_vertices
       |FROM e$rounds""".stripMargin
  }

  private def kcoreSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) u
         |  GROUP BY v),
         |e$i AS MATERIALIZED (
         |  SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT v FROM d$i WHERE d >= $k)
         |    AND b IN (SELECT v FROM d$i WHERE d >= $k))""".stripMargin
    }.mkString(",\n")
    // MATERIALIZED is load-bearing: every round reads the previous round's
    // edge set twice, so DuckDB's default CTE inlining would expand e0 a
    // couple of THOUSAND times (2^rounds) — "too many open files" on the
    // parquet view before it even runs
    s"""$edgesCte,
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst),
       |$steps,
       |core AS (
       |  SELECT v, count(*) AS core_deg FROM (
       |    SELECT a AS v FROM e$rounds UNION ALL SELECT b FROM e$rounds) u
       |  GROUP BY v)
       |SELECT CAST(count(*) AS BIGINT) AS core_vertices,
       |       CAST(coalesce(sum(core_deg) / 2, 0) AS BIGINT) AS core_edges,
       |       CAST(coalesce(min(core_deg), 0) AS BIGINT) AS min_core_deg,
       |       CAST(coalesce(max(core_deg), 0) AS BIGINT) AS max_core_deg,
       |       CAST(coalesce(sum(core_deg), 0) AS BIGINT) AS deg_checksum
       |FROM core""".stripMargin
  }

  /** Unrolled personalized-PageRank recurrence (teleport mass only on the
    * `seeds`, uniform) — graft.algo.PageRank.runPersonalizedFixed.
    */
  private def pprSql(iters: Int, seeds: Seq[String], damping: Double = 0.85): String = {
    val inList = seeds.map(s => s"'$s'").mkString(", ")
    val baseExpr = (v: String) =>
      s"CASE WHEN $v IN ($inList) THEN ${(1.0 - damping) / seeds.size} ELSE 0.0 END"
    val steps = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT v.v AS vertex,
         |         CAST(${baseExpr("v.v")} + $damping * coalesce(c.s, 0) AS DOUBLE) AS rank
         |  FROM verts v LEFT JOIN (
         |    SELECT l.dst AS d, sum(r.rank / l.outd) AS s
         |    FROM links l JOIN r${k - 1} r ON r.vertex = l.src
         |    GROUP BY l.dst) c ON c.d = v.v)""".stripMargin
    }.mkString(",\n")
    s"""$smallCte,
       |links AS (
       |  SELECT e.src, e.dst, o.outd FROM ge e
       |  JOIN (SELECT src, CAST(count(*) AS DOUBLE) AS outd FROM ge GROUP BY src) o ON o.src = e.src),
       |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM ge UNION ALL SELECT dst FROM ge) u),
       |r0 AS (SELECT v AS vertex, CAST(${baseExpr("v")} AS DOUBLE) AS rank FROM verts),
       |$steps
       |SELECT vertex, CAST(round(rank, 6) AS DOUBLE) AS rank FROM r$iters ORDER BY vertex""".stripMargin
  }

  /** Unrolled HITS recurrence (graft.algo.Hits.runFixed): per iteration an
    * authority half-step (sum of hubs over in-edges, L2-normalize) then a
    * hub half-step over the FRESH authorities.
    */
  private def hitsSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""ar$k AS MATERIALIZED (
         |  SELECT v.v AS vertex, coalesce(x.s, 0) AS ar FROM verts v LEFT JOIN (
         |    SELECT e.dst AS d, sum(s.hub) AS s
         |    FROM ge e JOIN s${k - 1} s ON s.vertex = e.src GROUP BY e.dst) x ON x.d = v.v),
         |an$k AS (SELECT sqrt(coalesce(sum(ar * ar), 0)) AS an FROM ar$k),
         |a$k AS MATERIALIZED (
         |  SELECT vertex, CASE WHEN (SELECT an FROM an$k) = 0 THEN ar
         |    ELSE ar / (SELECT an FROM an$k) END AS auth FROM ar$k),
         |hr$k AS MATERIALIZED (
         |  SELECT v.v AS vertex, coalesce(x.s, 0) AS hr FROM verts v LEFT JOIN (
         |    SELECT e.src AS s2, sum(a.auth) AS s
         |    FROM ge e JOIN a$k a ON a.vertex = e.dst GROUP BY e.src) x ON x.s2 = v.v),
         |hn$k AS (SELECT sqrt(coalesce(sum(hr * hr), 0)) AS hn FROM hr$k),
         |s$k AS MATERIALIZED (
         |  SELECT a.vertex, a.auth,
         |         CASE WHEN (SELECT hn FROM hn$k) = 0 THEN h.hr
         |           ELSE h.hr / (SELECT hn FROM hn$k) END AS hub
         |  FROM a$k a JOIN hr$k h ON h.vertex = a.vertex)""".stripMargin
    }.mkString(",\n")
    s"""$smallCte,
       |verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM ge UNION ALL SELECT dst FROM ge) u),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM verts),
       |s0 AS (SELECT v AS vertex, 1.0 / sqrt((SELECT c FROM nn)) AS auth,
       |              1.0 / sqrt((SELECT c FROM nn)) AS hub FROM verts),
       |$steps
       |SELECT vertex, CAST(round(auth, 6) AS DOUBLE) AS auth,
       |       CAST(round(hub, 6) AS DOUBLE) AS hub
       |FROM s$iters ORDER BY vertex""".stripMargin
  }

  /** Unrolled synchronous label propagation l0..lN
    * (graft.algo.LabelPropagation.runFixed): per round count neighbor
    * labels, keep the (count DESC, label ASC) winner per vertex.
    */
  private def lpaSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT v AS vertex, community FROM (
         |    SELECT n.v, l.community, count(*) AS c,
         |           row_number() OVER (PARTITION BY n.v
         |             ORDER BY count(*) DESC, l.community ASC) AS rn
         |    FROM nbrs n JOIN l${k - 1} l ON l.vertex = n.u
         |    GROUP BY n.v, l.community) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$smallCte,
       |nbrs AS MATERIALIZED (
       |  SELECT src AS v, dst AS u FROM ge WHERE src <> dst
       |  UNION ALL SELECT dst, src FROM ge WHERE src <> dst),
       |l0 AS MATERIALIZED (SELECT DISTINCT v AS vertex, v AS community FROM nbrs),
       |$steps
       |SELECT vertex, community FROM l$iters ORDER BY vertex""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_lpa" -> ((s, dir) =>
      LabelPropagation.runFixed(smallEdges(s, dir), iters = 5).orderBy("vertex")),

    "kg_hits" -> ((s, dir) =>
      Hits.runFixed(smallEdges(s, dir), iters = 8)
        .select(col("vertex"), round(col("auth"), 6).as("auth"),
          round(col("hub"), 6).as("hub"))
        .orderBy("vertex")),

    // personalized PageRank seeded on one customer + one region vertex:
    // rank mass flows only from the seed neighborhoods
    "kg_ppr" -> ((s, dir) =>
      PageRank.runPersonalizedFixed(smallEdges(s, dir), Seq("c1", "r0"), iters = 10)
        .select(col("vertex"), round(col("rank"), 6).as("rank"))
        .orderBy("vertex")),

    "kg_cc" -> ((s, dir) =>
      ConnectedComponents.componentSizes(ConnectedComponents.run(smallEdges(s, dir)))
        .orderBy("component")),

    // k-core peel on the full lineitem graph; the oracle replays the peel
    // as 12 unrolled rounds (>= the 3-4 rounds these graphs need; rounds
    // past convergence are no-ops on both engines)
    "kg_kcore" -> ((s, dir) => KCore.summary(liEdges(s, dir), k = 20)),

    // 3-truss (triangle core with cascading support peel) on a sparser
    // 32768-vertex derivation — the 4096-vertex graph is so dense at
    // sf0.1 that no edge ever fails, which would make the query vacuous
    "kg_ktruss" -> ((s, dir) => {
      // density-constant width (QueryUtil.liScale): triangle-support
      // enumeration costs ~sum d(u)d(v), so a fixed modulus densifying
      // with SF is combinatorial — measured 149 s at sf1 vs 5.9 s at
      // sf0.1 before the guard, same class as the BGP fixture fix
      val w = 32768 * liScale(s, dir)
      val e = s.read.parquet(s"$dir/lineitem.parquet").select(
        concat(lit("v"), pmod(col("l_orderkey"), lit(w)).cast("string")).as("src"),
        concat(lit("v"), pmod(col("l_partkey"), lit(w)).cast("string")).as("dst"))
      KTruss.summary(e, k = 3)
    }),

    "kg_pagerank" -> ((s, dir) =>
      PageRank.runFixed(smallEdges(s, dir), iters = 10)
        .select(col("vertex"), round(col("rank"), 6).as("rank"))
        .orderBy("vertex")),

    // confidence-weighted PageRank: the multigraph collapses to weighted
    // edges (weight = multiplicity here; in the fused-KG composition the
    // weight is tripleFusion's noisy-or confidence)
    "kg_weighted_pagerank" -> ((s, dir) => {
      val w = smallEdges(s, dir).groupBy("src", "dst")
        .agg(count(lit(1)).as("w"))
      PageRank.runWeightedFixed(w, "w", iters = 10)
        .select(col("vertex"), round(col("rank"), 6).as("rank"))
        .orderBy("vertex")
    }),

    // rank-value distribution table (A12 parity with lodcc's pagerank plot,
    // `centrality.py:57-79`)
    "kg_pagerank_distribution" -> ((s, dir) =>
      PageRank.distribution(PageRank.runFixed(smallEdges(s, dir), iters = 10))
        .orderBy("rank")),

    "kg_bfs" -> ((s, dir) =>
      Bfs.levels(Bfs.prepareAdj(smallEdges(s, dir)), Seq("c1"))
        .select("vertex", "dist").orderBy("vertex")),

    "kg_bgp" -> ((s, dir) => {
      // BGP: ?a -p1-> ?b -p2-> ?c, ?a -p3-> ?c (triangle template, J1).
      // Density-constant edges (QueryUtil.liEdgesScaled): a pattern match's
      // embedding count is combinatorial in mean degree, so this consumer
      // scales the vertex space with SF instead of densifying.
      val e = liEdgesScaled(s, dir)
      val e1 = e.where(col("label") === "p1").select(col("src").as("a"), col("dst").as("b"))
      val e2 = e.where(col("label") === "p2").select(col("src").as("b2"), col("dst").as("c"))
      val e3 = e.where(col("label") === "p3").select(col("src").as("a3"), col("dst").as("c3"))
      e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .where(col("a") =!= col("b") && col("b") =!= col("c") && col("a") =!= col("c"))
        .agg(count(lit(1)).as("matches"))
    }),

    "kg_sample" -> ((s, dir) => {
      // deterministic hash sampling (SA1 analog, reproducible across engines)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where((col("l_orderkey") * 2654435761L + col("l_linenumber")) % 100 < 10)
      li.select(concat(lit("v"), (col("l_orderkey") % 4096).cast("string")).as("src"))
        .agg(count(lit(1)).as("sample_m"), count_distinct(col("src")).as("sample_srcs"))
    }),

    "kg_nt_parse" -> ((s, dir) => {
      val part = s.read.parquet(s"$dir/part.parquet")
      val lines = part.select(concat(
        lit("<s:"), col("p_partkey").cast("string"),
        lit("> <p:"), (col("p_size") % 5).cast("string"),
        lit("> \""), col("p_name"), lit("\" .")).as("value"))
        .union(part.select(concat(lit("# comment: "), col("p_name")).as("value")))
        .union(part.select(lit("").as("value")))
      NTriples.parse(lines).agg(
        count(lit(1)).as("triples"),
        count_distinct(col("subj")).as("subjects"),
        sum(octet_length(col("obj"))).as("obj_bytes"))
    }),

    "kg_vertex_ids" -> ((s, dir) => {
      val e = liEdges(s, dir)
      val ids = GraphTables.vertexIds(e)
      val ie = GraphTables.intEdges(e, ids)
      val idStats = ids.agg(
        count(lit(1)).as("n_vertices"), max("vid").as("max_vid"))
      val checksum = ie.agg(sum(col("src_id") * 7 + col("dst_id") * 3).as("checksum"))
      idStats.crossJoin(checksum)
    }),

    "kg_vertex_ids_first_seen" -> ((s, dir) => {
      // insertion-order dictionary (edgelist.py:124-136 literal semantics):
      // ids in first-seen scan order, subject before object per edge; the
      // scan order here is the deterministic (l_orderkey, l_linenumber) key
      val e = s.read.parquet(s"$dir/lineitem.parquet").select(
        concat(lit("v"), (col("l_orderkey") % 4096).cast("string")).as("src"),
        concat(lit("v"), (col("l_partkey") % 4096).cast("string")).as("dst"),
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("ord"))
      val ids = GraphTables.vertexIdsFirstSeen(e, "ord")
      ids.agg(
        count(lit(1)).as("n_vertices"),
        max("vid").as("max_vid"),
        sum(col("vid") * (substring(col("vhash"), 2, 10).cast("long") % 97))
          .as("checksum"))
    }),

    "kg_hashed_edges" -> ((s, dir) => {
      // hashing is a bijection on this value set: counts survive xxh64_hex
      val t = liEdges(s, dir).select(
        col("src").as("subj"), col("label").as("pred"), col("dst").as("obj"))
      val hashed = GraphTables.edges(t)
      hashed.agg(
        count(lit(1)).as("m"),
        count_distinct(col("src")).as("n_src"),
        count_distinct(col("src"), col("dst")).as("n_pairs"),
        count_distinct(col("label")).as("n_labels"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "kg_lpa" -> lpaSql(5),

    "kg_ppr" -> pprSql(10, Seq("c1", "r0")),

    "kg_hits" -> hitsSql(8),

    "kg_cc" ->
      s"""$smallCte,
         |ue AS (SELECT src AS a, dst AS b FROM ge UNION SELECT dst, src FROM ge),
         |verts AS (SELECT DISTINCT a AS v FROM ue)
         |SELECT component, CAST(count(*) AS BIGINT) AS size FROM (
         |  WITH RECURSIVE reach(v, r) AS (
         |    SELECT v, v FROM verts
         |    UNION
         |    SELECT reach.v, ue.b FROM reach JOIN ue ON ue.a = reach.r
         |  )
         |  SELECT v AS vertex, min(r) AS component FROM reach GROUP BY v
         |) comp GROUP BY component ORDER BY component""".stripMargin,

    "kg_kcore" -> kcoreSql(20, 12),

    "kg_ktruss" -> ktrussSql(3, 4),

    "kg_pagerank" -> pagerankSql(10),

    "kg_weighted_pagerank" -> weightedPagerankSql(10),

    "kg_pagerank_distribution" -> pagerankSql(10, last =>
      s"""SELECT CAST(round(rank, 6) AS DOUBLE) AS rank, CAST(count(*) AS BIGINT) AS cnt
         |FROM $last GROUP BY 1 ORDER BY 1""".stripMargin),

    "kg_bfs" ->
      s"""$smallCte
         |SELECT vertex, CAST(min(dist) AS BIGINT) AS dist FROM (
         |  WITH RECURSIVE d(vertex, dist) AS (
         |    SELECT 'c1', 0
         |    UNION ALL
         |    SELECT e.dst, d.dist + 1 FROM d JOIN ge e ON e.src = d.vertex WHERE d.dist < 10
         |  ) SELECT vertex, dist FROM d
         |) t GROUP BY vertex ORDER BY vertex""".stripMargin,

    "kg_bgp" ->
      s"""$edgesScaledCte
         |SELECT CAST(count(*) AS BIGINT) AS matches
         |FROM (SELECT src AS a, dst AS b FROM edges WHERE label = 'p1') e1
         |JOIN (SELECT src AS b, dst AS c FROM edges WHERE label = 'p2') e2 USING (b)
         |JOIN (SELECT src AS a, dst AS c FROM edges WHERE label = 'p3') e3 USING (a, c)
         |WHERE a <> b AND b <> c AND a <> c""".stripMargin,

    "kg_sample" ->
      """SELECT CAST(count(*) AS BIGINT) AS sample_m,
        |       CAST(count(DISTINCT 'v' || (l_orderkey % 4096)) AS BIGINT) AS sample_srcs
        |FROM lineitem
        |WHERE (l_orderkey * 2654435761 + l_linenumber) % 100 < 10""".stripMargin,

    "kg_nt_parse" ->
      """WITH lines AS (
        |  SELECT '<s:' || p_partkey || '> <p:' || (p_size % 5) || '> "' || p_name || '" .' AS value FROM part
        |  UNION ALL SELECT '# comment: ' || p_name FROM part
        |  UNION ALL SELECT '' FROM part
        |), parsed AS (
        |  SELECT l[1] AS subj, l[2] AS pred, array_to_string(l[3:len(l)-1], ' ') AS obj
        |  FROM (SELECT string_split(value, ' ') AS l FROM lines
        |        WHERE trim(value) <> '' AND NOT starts_with(value, '# ')) t
        |  WHERE len(l) >= 4
        |)
        |SELECT CAST(count(*) AS BIGINT) AS triples,
        |       CAST(count(DISTINCT subj) AS BIGINT) AS subjects,
        |       CAST(sum(strlen(obj)) AS BIGINT) AS obj_bytes
        |FROM parsed""".stripMargin,

    "kg_vertex_ids" ->
      s"""$edgesCte,
         |ids AS (
         |  SELECT v AS vhash, CAST(row_number() OVER (ORDER BY v) - 1 AS BIGINT) AS vid
         |  FROM (SELECT DISTINCT src AS v FROM edges UNION SELECT dst FROM edges) w)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM ids) AS n_vertices,
         |  (SELECT CAST(max(vid) AS BIGINT) FROM ids) AS max_vid,
         |  (SELECT CAST(sum(si.vid * 7 + di.vid * 3) AS BIGINT)
         |   FROM edges e JOIN ids si ON si.vhash = e.src JOIN ids di ON di.vhash = e.dst) AS checksum""".stripMargin,

    "kg_vertex_ids_first_seen" ->
      """WITH e AS (
        |  SELECT 'v' || (l_orderkey % 4096) AS src,
        |         'v' || (l_partkey % 4096) AS dst,
        |         l_orderkey * 8 + l_linenumber AS ord
        |  FROM lineitem),
        |fs AS (
        |  SELECT vhash, min(o) AS first_seen FROM (
        |    SELECT src AS vhash, ord * 2 AS o FROM e
        |    UNION ALL SELECT dst, ord * 2 + 1 FROM e) u
        |  GROUP BY 1),
        |ids AS (
        |  SELECT vhash,
        |         CAST(row_number() OVER (ORDER BY first_seen, vhash) - 1 AS BIGINT) AS vid
        |  FROM fs)
        |SELECT CAST(count(*) AS BIGINT) AS n_vertices,
        |       CAST(max(vid) AS BIGINT) AS max_vid,
        |       CAST(sum(vid * (CAST(substr(vhash, 2) AS BIGINT) % 97)) AS BIGINT) AS checksum
        |FROM ids""".stripMargin,

    "kg_hashed_edges" ->
      s"""$edgesCte
         |SELECT CAST(count(*) AS BIGINT) AS m,
         |       CAST(count(DISTINCT src) AS BIGINT) AS n_src,
         |       CAST((SELECT count(*) FROM (SELECT DISTINCT src, dst FROM edges) p) AS BIGINT) AS n_pairs,
         |       CAST(count(DISTINCT label) AS BIGINT) AS n_labels
         |FROM edges""".stripMargin,
  )
}
