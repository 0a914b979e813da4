package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.{Betweenness, Bfs, Scc, TransitiveClosure}
import graft.ops.{EventOps, Similarity, TextOps}
import QueryUtil._

/** Round-5 driver-checked queries: sampled closeness + betweenness
  * centrality (the remaining graph-tool centrality family members lodcc's
  * backend exposes), BM25 retrieval scoring, URL canonicalization dedup,
  * and first/last-touch conversion attribution.
  */
object AnalyticsQueries {

  private def docs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")
  private def events(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/events.parquet")
  private def embs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Deterministic synthetic URL per document — messy on purpose (mixed
    * case, default + non-default ports, tracking params, unsorted params,
    * trailing slash, fragment). Twin of [[urlSynthSql]].
    */
  private def synthUrl(): org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 2 === 0, "HTTPS").otherwise("https"), lit("://"),
    when(col("doc_id") % 3 === 0, "Example.COM:443")
      .when(col("doc_id") % 3 === 1, "example.com")
      .otherwise("www.example.com:8080"),
    lit("/Docs/"), col("source"), lit("/item"),
    (col("doc_id") % 40).cast("string"),
    when(col("doc_id") % 5 === 0, "/").otherwise(""),
    when(col("doc_id") % 4 === 0, "?utm_source=feed&b=2&a=1")
      .when(col("doc_id") % 4 === 1, "?a=1&b=2")
      .when(col("doc_id") % 4 === 2, "?utm_campaign=x")
      .otherwise(""),
    when(col("doc_id") % 7 === 0, "#frag").otherwise(""))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // sampled closeness centrality: k=4 seeds (top distinct-out-degree,
    // ties to the greatest vertex), ONE multi-source BFS fixpoint —
    // closeness(s) = reached / sum of BFS distances from s
    "kg_closeness" -> ((s, dir) => {
      val adj = Bfs.prepareAdj(liEdges(s, dir))
      Bfs.levels(adj, Bfs.topOutDegree(adj, 4)).where(col("dist") > 0)
        .groupBy(col("seed"))
        .agg(count(lit(1)).cast("bigint").as("n_reached"),
          sum("dist").cast("bigint").as("total_dist"),
          round(count(lit(1)) / sum("dist"), 6).as("closeness"))
    }),

    // source-sampled betweenness (Brandes): k=3 seeds, forward sigma BFS
    // + per-level backward dependency accumulation — all DataFrame joins,
    // maxDist (~3) rounds each way
    "kg_betweenness" -> ((s, dir) => {
      val adj = Bfs.prepareAdj(liEdges(s, dir))
      Betweenness.run(adj, Bfs.topOutDegree(adj, 3))
    }),

    // BM25 scoring of the whole corpus against a fixed 3-term query; the
    // token stream is filtered to the query terms before any aggregation
    "doc_bm25" -> ((s, dir) =>
      roundDoubles(TextOps.bm25(docs(s, dir), "doc_id", "text",
        queryTerms = Seq("spark", "join", "filter"))
        .select(col("id").as("doc_id"), col("n_hit_terms"),
          round(col("score"), 6).as("score")))),

    // URL canonicalization + URL-level dedup: one map-side projection
    // composes the canonical form, then a hash groupBy keyed on it
    "doc_url_canon" -> ((s, dir) => {
      val raw = docs(s, dir).select(col("doc_id"), synthUrl().as("url"))
      raw.select(col("doc_id"), col("url"),
        TextOps.canonicalizeUrl(col("url")).as("canon_url"))
        .groupBy("canon_url")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          count_distinct(col("url")).cast("bigint").as("n_raw_variants"),
          min("doc_id").cast("bigint").as("keeper_doc_id"))
    }),

    // RDFS-style hierarchy closure: a 200-deep subclass chain derived from
    // part keys, closed by path doubling — O(log depth) self-joins, not a
    // 200-round frontier loop
    "kg_tc_closure" -> ((s, dir) => {
      val chain = s.read.parquet(s"$dir/part.parquet")
        .select((col("p_partkey") % 200).as("i")).distinct()
        .select(concat(lit("c"), col("i").cast("string")).as("src"),
          concat(lit("c"), (col("i") + 1).cast("string")).as("dst"))
      TransitiveClosure.minDist(chain)
        .groupBy("src")
        .agg(count(lit(1)).cast("bigint").as("n_desc"),
          max("dist").cast("bigint").as("max_dist"),
          sum("dist").cast("bigint").as("sum_dist"))
    }),

    // content-defined chunking + chunk-level dedup: boundaries are a pure
    // function of token content, so shifted duplicates share chunks
    "doc_cdc_chunks" -> ((s, dir) => {
      val ch = TextOps.cdcChunks(docs(s, dir), "doc_id", "text", modulus = 16)
      ch.groupBy("chunk_text")
        .agg(count(lit(1)).as("k"), max("n_tokens").as("nt"))
        .agg(
          sum("k").cast("bigint").as("n_chunks"),
          count(lit(1)).cast("bigint").as("distinct_chunks"),
          sum(col("k") - 1).cast("bigint").as("dup_chunks"),
          sum((col("k") - 1) * col("nt")).cast("bigint").as("dup_tokens"),
          sum(TextOps.portableHash64(col("chunk_text")) % 1000003L)
            .cast("bigint").as("chunk_checksum"))
    }),

    // tokenizer fertility per language: chars per BPE pre-token — the
    // standard tokenizer-efficiency QC signal for corpus curation
    "doc_fertility" -> ((s, dir) =>
      docs(s, dir).select(col("lang"),
        length(col("text")).cast("long").as("n_chars"),
        size(TextOps.bpeTokens(col("text"))).cast("long").as("n_toks"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_chars").cast("bigint").as("total_chars"),
          sum("n_toks").cast("bigint").as("total_tokens"),
          round(sum("n_chars") / sum("n_toks"), 6).as("chars_per_token"))),

    // first/last-touch attribution of purchases to view/click/signup
    // touches within a 7-day lookback; ONE exchange+sort (both models are
    // RANGE-frame aggregates over the same user/ts window)
    "ev_attribution" -> ((s, dir) => {
      val a = EventOps.attribution(events(s, dir), "user_id", "ts",
        "event_id", "event_type", conversionType = "purchase",
        touchTypes = Seq("view", "click", "signup"),
        lookbackSeconds = 7L * 86400L)
      a.select(col("value"), explode(array(
          struct(lit("first_touch").as("model"),
            col("first_touch_type").as("channel")),
          struct(lit("last_touch").as("model"),
            col("last_touch_type").as("channel")))).as("mc"))
        .select(col("value"), col("mc.model").as("model"),
          coalesce(col("mc.channel"), lit("(none)")).as("channel"))
        .groupBy("model", "channel")
        .agg(count(lit(1)).cast("bigint").as("n_conversions"),
          round(sum("value"), 6).as("value_sum"))
    }),

    // strongly connected components over a 40-cycles-of-5 + hub digraph
    // derived from part keys (small condensation depth: 2 peel rounds);
    // members pinned exactly via the sorted member list per component
    "kg_scc" -> ((s, dir) => {
      val scc = Scc.run(sccGraph(s, dir))
      scc.groupBy("scc")
        .agg(count(lit(1)).cast("bigint").as("n_members"),
          array_join(sort_array(collect_list(col("vertex"))), ",").as("members"))
    }),

    // rolling z-score anomaly flags over the event stream; the z-test is
    // exact integer arithmetic so the flag is bit-stable cross-engine
    "ev_anomaly" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("v", col("event_id") % 97)
      val a = EventOps.rollingZAnomalies(ev, "user_id", "ts",
        tieCol = "event_id", valueCol = "v",
        lookback = 20, minPoints = 10, zThresh = 3)
      a.agg(
        count(lit(1)).cast("bigint").as("n_events"),
        sum(when(col("roll_n") >= 10, 1L).otherwise(0L))
          .cast("bigint").as("n_scored"),
        sum(when(col("is_anomaly"), 1L).otherwise(0L))
          .cast("bigint").as("n_anomalies"),
        sum(when(col("is_anomaly"), col("event_id")).otherwise(0L))
          .cast("bigint").as("anomaly_checksum"))
    }),

    // ANN quality evaluation: per-query recall@3 of multi-probe sign-LSH
    // against the brute-force ground truth — the standard index-QC op; the
    // truth side is small (k·|Q| rows) so the hit join broadcasts
    "emb_recall_eval" -> ((s, dir) => {
      val truth = Similarity.bruteForceTopK(embs(s, dir), "vec_id",
        "embedding", col("vec_id") < 10, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.lshTopKMultiProbe(embs(s, dir), "vec_id",
        "embedding", col("vec_id") < 10, planes = 8, k = 3, probeHamming = 1)
        .select(col("query_id"), col("neighbor_id"))
      val hits = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      truth.groupBy("query_id").agg(count(lit(1)).as("t"))
        .join(hits, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          col("t").cast("bigint").as("n_truth"),
          coalesce(col("h"), lit(0L)).cast("bigint").as("n_hits"),
          round(coalesce(col("h"), lit(0L)) / col("t"), 6).as("recall"))
    }),

    // per-document char-entropy quality signal over [a-z0-9]
    "doc_entropy" -> ((s, dir) =>
      roundDoubles(TextOps.charEntropy(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"))),
  )

  /** Deterministic cyclic digraph for kg_scc: vertices c0..c199 in 40
    * directed 5-cycles (i → next position in i's cycle), plus hub edges
    * c0 → head of every other cycle so the condensation is depth-1 (the
    * coloring peel resolves it in 2 outer rounds). Twin of the `e` CTE in
    * the kg_scc oracle.
    */
  private def sccGraph(s: SparkSession, dir: String): DataFrame = {
    val ks = s.read.parquet(s"$dir/part.parquet")
      .select((col("p_partkey") % 200).as("i")).distinct()
    def cn(c: org.apache.spark.sql.Column) =
      concat(lit("c"), c.cast("string"))
    val cyc = ks.select(cn(col("i")).as("src"),
      cn(col("i") - (col("i") % 5) + ((col("i") % 5) + 1) % 5).as("dst"))
    val hubs = ks.where(col("i") % 5 === 0 && col("i") > 0)
      .select(lit("c0").as("src"), cn(col("i")).as("dst"))
    cyc.union(hubs)
  }

  /** DuckDB twin of [[synthUrl]]. */
  private val urlSynthSql: String =
    """SELECT doc_id,
      |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
      |  (CASE WHEN doc_id % 3 = 0 THEN 'Example.COM:443'
      |        WHEN doc_id % 3 = 1 THEN 'example.com'
      |        ELSE 'www.example.com:8080' END) ||
      |  '/Docs/' || source || '/item' || (doc_id % 40) ||
      |  (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
      |  (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
      |        WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
      |        WHEN doc_id % 4 = 2 THEN '?utm_campaign=x'
      |        ELSE '' END) ||
      |  (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
      |FROM documents""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "kg_closeness" ->
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
         |SELECT seed,
         |  CAST(count(*) AS BIGINT) AS n_reached,
         |  CAST(sum(dist) AS BIGINT) AS total_dist,
         |  CAST(round(count(*) / CAST(sum(dist) AS DOUBLE), 6) AS DOUBLE) AS closeness
         |FROM d WHERE dist > 0 GROUP BY seed""".stripMargin,

    // betweenness oracle: enumerate every shortest path (paths restricted
    // to the BFS-DAG edges, so walk count == shortest-path count and depth
    // is bounded by the eccentricity) carrying the interior-vertex list;
    // bc(v) = sum over (seed, t) of (#paths through v) / (#paths)
    "kg_betweenness" ->
      s"""$edgesCte,
         |de AS (SELECT DISTINCT src, dst FROM edges),
         |seeds AS (SELECT src AS seed FROM de GROUP BY src
         |          ORDER BY count(*) DESC, src DESC LIMIT 3),
         |d AS (
         |  SELECT seed, vertex, min(dist) AS dist FROM (
         |    WITH RECURSIVE r(seed, vertex, dist) AS (
         |      SELECT seed, seed, 0 FROM seeds
         |      UNION
         |      SELECT r.seed, de.dst, r.dist + 1
         |      FROM r JOIN de ON de.src = r.vertex WHERE r.dist < 12
         |    ) SELECT seed, vertex, dist FROM r) t
         |  GROUP BY seed, vertex),
         |dag AS (
         |  SELECT d1.seed, e.src AS v, e.dst AS w
         |  FROM de e
         |  JOIN d d1 ON d1.vertex = e.src
         |  JOIN d d2 ON d2.seed = d1.seed AND d2.vertex = e.dst
         |            AND d2.dist = d1.dist + 1),
         |p AS (
         |  SELECT seed, vertex, interior FROM (
         |    WITH RECURSIVE paths(seed, vertex, interior) AS (
         |      SELECT seed, seed, []::VARCHAR[] FROM seeds
         |      UNION ALL
         |      SELECT paths.seed, g.w,
         |             CASE WHEN paths.vertex = paths.seed THEN paths.interior
         |                  ELSE list_append(paths.interior, paths.vertex) END
         |      FROM paths JOIN dag g
         |        ON g.seed = paths.seed AND g.v = paths.vertex
         |    ) SELECT seed, vertex, interior FROM paths
         |      WHERE vertex <> seed) t),
         |tot AS (SELECT seed, vertex AS t, CAST(count(*) AS DOUBLE) AS np
         |        FROM p GROUP BY 1, 2),
         |thru AS (
         |  SELECT p.seed, p.vertex AS t, u.iv AS vertex, count(*) AS nthru
         |  FROM p, unnest(p.interior) AS u(iv)
         |  GROUP BY 1, 2, 3)
         |SELECT th.vertex,
         |       CAST(round(sum(th.nthru / tt.np), 6) AS DOUBLE) AS betweenness,
         |       CAST(count(DISTINCT th.seed) AS BIGINT) AS n_seeds
         |FROM thru th JOIN tot tt ON tt.seed = th.seed AND tt.t = th.t
         |GROUP BY 1""".stripMargin,

    "doc_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, t.term
        |  FROM documents, unnest(string_split_regex(text, ' +')) AS t(term)
        |  WHERE t.term <> ''),
        |dl AS (SELECT id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |ad AS (SELECT (SELECT sum(dl) FROM dl) / (SELECT n_docs FROM nd) AS avgdl),
        |qtf AS (SELECT id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
        |        WHERE term IN ('spark', 'join', 'filter') GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM qtf GROUP BY 1),
        |sc AS (
        |  SELECT q.id,
        |    ln(1 + ((SELECT n_docs FROM nd) - f.df + 0.5) / (f.df + 0.5))
        |      * q.tf * 2.2
        |      / (q.tf + 1.2 * (0.25 + 0.75 * l.dl / (SELECT avgdl FROM ad)))
        |      AS contrib
        |  FROM qtf q JOIN dfq f USING (term) JOIN dl l ON l.id = q.id)
        |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
        |       CAST(round(sum(contrib), 6) AS DOUBLE) AS score
        |FROM sc GROUP BY 1""".stripMargin,

    "doc_url_canon" ->
      s"""WITH raw AS ($urlSynthSql),
         |parts AS (
         |  SELECT doc_id, url,
         |    regexp_replace(url, '#.*$$', '') AS nofrag
         |  FROM raw),
         |pieces AS (
         |  SELECT doc_id, url,
         |    regexp_extract(nofrag, '^([^?]*)', 1) AS base,
         |    regexp_extract(nofrag, '\\?(.*)$$', 1) AS q
         |  FROM parts),
         |canon AS (
         |  SELECT doc_id, url,
         |    lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
         |      || '://' ||
         |    regexp_replace(
         |      lower(regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)', 1)),
         |      ':(443|80)$$', '')
         |      ||
         |    regexp_replace(
         |      regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$$', 1),
         |      '/+$$', '')
         |      ||
         |    (CASE WHEN array_to_string(list_sort(list_filter(
         |            string_split(q, '&'),
         |            x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') <> ''
         |      THEN '?' || array_to_string(list_sort(list_filter(
         |            string_split(q, '&'),
         |            x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&')
         |      ELSE '' END) AS canon_url
         |  FROM pieces)
         |SELECT canon_url,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
         |       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
         |FROM canon GROUP BY 1""".stripMargin,

    "kg_tc_closure" ->
      """WITH ks AS (SELECT DISTINCT p_partkey % 200 AS i FROM part),
        |e AS (SELECT 'c' || i AS src, 'c' || (i + 1) AS dst FROM ks),
        |tc AS (
        |  SELECT src, dst, min(dist) AS dist FROM (
        |    WITH RECURSIVE r(src, dst, dist) AS (
        |      SELECT src, dst, 1 FROM e
        |      UNION
        |      SELECT r.src, e.dst, r.dist + 1
        |      FROM r JOIN e ON e.src = r.dst WHERE r.dist < 250
        |    ) SELECT src, dst, dist FROM r) t
        |  WHERE src <> dst GROUP BY 1, 2)
        |SELECT src, CAST(count(*) AS BIGINT) AS n_desc,
        |       CAST(max(dist) AS BIGINT) AS max_dist,
        |       CAST(sum(dist) AS BIGINT) AS sum_dist
        |FROM tc GROUP BY 1""".stripMargin,

    "doc_cdc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, ' +'), x -> x <> '') AS l
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, p.pos, t.l[p.pos] AS tok
        |  FROM t, LATERAL unnest(generate_series(1, len(t.l))) AS p(pos)
        |  WHERE len(t.l) > 0),
        |b AS (
        |  SELECT doc_id, pos, tok,
        |    coalesce(sum(CASE WHEN ((('0x' || substr(md5(tok), 1, 15))::BIGINT
        |                             & 2147483647) % 16) = 0
        |                      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS chunk_id
        |  FROM tok),
        |ch AS (
        |  SELECT doc_id, chunk_id, count(*) AS n_tokens,
        |         string_agg(tok, ' ' ORDER BY pos) AS chunk_text
        |  FROM b GROUP BY 1, 2),
        |pt AS (SELECT chunk_text, count(*) AS k, max(n_tokens) AS nt
        |       FROM ch GROUP BY 1)
        |SELECT CAST(sum(k) AS BIGINT) AS n_chunks,
        |       CAST(count(*) AS BIGINT) AS distinct_chunks,
        |       CAST(sum(k - 1) AS BIGINT) AS dup_chunks,
        |       CAST(sum((k - 1) * nt) AS BIGINT) AS dup_tokens,
        |       CAST(sum(('0x' || substr(md5(chunk_text), 1, 15))::BIGINT % 1000003)
        |         AS BIGINT) AS chunk_checksum
        |FROM pt""".stripMargin,

    "doc_fertility" -> {
      val pat = TextOps.BpePattern.replace("'", "''")
      s"""WITH d AS (
         |  SELECT lang, length(text) AS n_chars,
         |         len(regexp_extract_all(text, '$pat')) AS n_toks
         |  FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |       CAST(round(sum(n_chars) / CAST(sum(n_toks) AS DOUBLE), 6) AS DOUBLE)
         |         AS chars_per_token
         |FROM d GROUP BY 1""".stripMargin
    },

    "ev_attribution" ->
      """WITH e AS (SELECT *, epoch_us(ts) AS tsu FROM events),
        |w AS (
        |  SELECT event_type, value,
        |    min(CASE WHEN event_type IN ('view', 'click', 'signup')
        |         THEN lpad(CAST(tsu AS VARCHAR), 20, '0') || ':' ||
        |              lpad(CAST(event_id AS VARCHAR), 12, '0') || ':' || event_type
        |         END)
        |      OVER (PARTITION BY user_id ORDER BY tsu
        |            RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING) AS fk,
        |    max(CASE WHEN event_type IN ('view', 'click', 'signup')
        |         THEN lpad(CAST(tsu AS VARCHAR), 20, '0') || ':' ||
        |              lpad(CAST(event_id AS VARCHAR), 12, '0') || ':' || event_type
        |         END)
        |      OVER (PARTITION BY user_id ORDER BY tsu
        |            RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING) AS lk
        |  FROM e),
        |conv AS (SELECT value, fk, lk FROM w WHERE event_type = 'purchase'),
        |long AS (
        |  -- DuckDB split_part(NULL, ...) yields '' (not NULL), so branch
        |  -- on the key itself for the no-touch marker
        |  SELECT 'first_touch' AS model,
        |         CASE WHEN fk IS NULL THEN '(none)'
        |              ELSE split_part(fk, ':', 3) END AS channel, value
        |  FROM conv
        |  UNION ALL
        |  SELECT 'last_touch',
        |         CASE WHEN lk IS NULL THEN '(none)'
        |              ELSE split_part(lk, ':', 3) END, value
        |  FROM conv)
        |SELECT model, channel,
        |       CAST(count(*) AS BIGINT) AS n_conversions,
        |       CAST(round(sum(value), 6) AS DOUBLE) AS value_sum
        |FROM long GROUP BY 1, 2""".stripMargin,

    // SCC by definition: mutual reachability over the recursive closure of
    // the 200-vertex synthetic digraph; scc = min mutually-reachable id
    "kg_scc" ->
      """WITH ks AS (SELECT DISTINCT p_partkey % 200 AS i FROM part),
        |e AS (
        |  SELECT 'c' || i AS src,
        |         'c' || ((i - (i % 5)) + ((i % 5) + 1) % 5) AS dst
        |  FROM ks
        |  UNION ALL
        |  SELECT 'c0', 'c' || i FROM ks WHERE i % 5 = 0 AND i > 0),
        |v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),
        |reach AS (
        |  SELECT src, dst FROM (
        |    WITH RECURSIVE r(src, dst) AS (
        |      SELECT src, dst FROM e
        |      UNION
        |      SELECT r.src, e.dst FROM r JOIN e ON e.src = r.dst
        |    ) SELECT src, dst FROM r) t),
        |mutual AS (
        |  SELECT a.src AS u, a.dst AS w
        |  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
        |  UNION SELECT vertex, vertex FROM v),
        |assign AS (SELECT w AS vertex, min(u) AS scc FROM mutual GROUP BY 1)
        |SELECT scc, CAST(count(*) AS BIGINT) AS n_members,
        |       string_agg(vertex, ',' ORDER BY vertex) AS members
        |FROM assign GROUP BY 1""".stripMargin,

    "ev_anomaly" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu, event_id % 97 AS v
        |  FROM events),
        |r AS (
        |  SELECT event_id, v,
        |         count(*) OVER w AS n,
        |         coalesce(sum(v) OVER w, 0) AS s,
        |         coalesce(sum(v * v) OVER w, 0) AS q
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |f AS (
        |  SELECT event_id, n,
        |         (n >= 10 AND (n*v - s)*(n*v - s) > 9*(n*q - s*s)) AS is_anomaly
        |  FROM r)
        |SELECT CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN n >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
        |       CAST(sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_anomalies,
        |       CAST(sum(CASE WHEN is_anomaly THEN event_id ELSE 0 END) AS BIGINT)
        |         AS anomaly_checksum
        |FROM f""".stripMargin,

    // truth = brute-force top-3 (the emb_knn oracle restricted to the
    // multiprobe query set); approx = the emb_lsh_multiprobe oracle;
    // recall joins the two neighbor sets per query
    "emb_recall_eval" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qt AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |bscored AS (
        |  SELECT query_id, vec_id,
        |         CAST(round(list_dot_product(qv, v) /
        |               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS DOUBLE) AS sim
        |  FROM qt JOIN e ON vec_id <> query_id),
        |branked AS (
        |  SELECT query_id, vec_id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
        |  FROM bscored),
        |truth AS (SELECT query_id, vec_id AS neighbor_id FROM branked WHERE rank <= 3),
        |dots AS (
        |  SELECT vec_id, p,
        |         list_dot_product(v, list_transform(generate_series(0, 63),
        |           d -> CAST((p * 37 + d * 11) % 13 - 6 AS DOUBLE))) AS dp
        |  FROM e, LATERAL unnest(generate_series(0, 7)) g(p)),
        |buckets AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN dp > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |corpus AS (SELECT e.vec_id AS id, e.v, b.bucket FROM e JOIN buckets b USING (vec_id)),
        |lq AS (
        |  SELECT e.vec_id AS query_id, e.v AS qv, b.bucket AS qbucket
        |  FROM e JOIN buckets b USING (vec_id) WHERE e.vec_id < 10),
        |probes AS (
        |  SELECT query_id, qv,
        |         unnest(list_prepend(qbucket,
        |           list_transform(generate_series(0, 7), p -> xor(qbucket, CAST(1 AS BIGINT) << p)))) AS probe
        |  FROM lq),
        |ascored AS (
        |  SELECT p.query_id, c.id,
        |         CAST(round(list_dot_product(p.qv, c.v) /
        |               (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS DOUBLE) AS sim
        |  FROM probes p JOIN corpus c ON c.bucket = p.probe AND c.id <> p.query_id),
        |aranked AS (
        |  SELECT query_id, id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id ASC) AS rank
        |  FROM ascored),
        |approx AS (SELECT query_id, id AS neighbor_id FROM aranked WHERE rank <= 3),
        |hits AS (
        |  SELECT t.query_id, count(*) AS h
        |  FROM truth t JOIN approx a
        |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
        |  GROUP BY 1)
        |SELECT t.query_id,
        |       CAST(count(*) AS BIGINT) AS n_truth,
        |       CAST(coalesce(max(h.h), 0) AS BIGINT) AS n_hits,
        |       CAST(round(coalesce(max(h.h), 0) / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS recall
        |FROM truth t LEFT JOIN hits h ON h.query_id = t.query_id
        |GROUP BY t.query_id""".stripMargin,

    "doc_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, u.ch
        |  FROM documents,
        |       unnest(regexp_extract_all(lower(text), '[a-z0-9]')) AS u(ch)),
        |cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |ent AS (
        |  SELECT doc_id, sum(c) AS n, count(*) AS dc,
        |         log2(sum(c)) - sum(c * log2(c)) / sum(c) AS h
        |  FROM cnt GROUP BY 1)
        |SELECT doc_id,
        |       CAST(n AS BIGINT) AS n_chars,
        |       CAST(dc AS BIGINT) AS distinct_chars,
        |       CAST(round(h, 6) AS DOUBLE) AS entropy
        |FROM ent""".stripMargin,
  )
}
