package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine's one BFS level loop, and the pseudo-diameter double sweep
  * (lodcc `edge_based.py:15-32` via graph-tool `pseudo_diameter`).
  *
  * Each BFS level is one hash join frontier-vs-edges plus an anti-join
  * against the visited set; lineage truncated per level. Directed traversal
  * (graph-tool respects edge direction on directed graphs). Distances,
  * sampled centralities (closeness, harmonic, betweenness) and the
  * pseudo-diameter sweeps all run [[levels]] over an adjacency from
  * [[prepareAdj]].
  */
object Bfs {

  /** Cap on [[pseudoDiameter]]'s sweeps; the loop normally ends earlier,
    * once the estimate stops improving.
    */
  private val MaxSweeps = 10

  /** Deduped, eagerly checkpointed (src, dst) adjacency for [[levels]]. The
    * checkpoint is a row-format cache at the AQE-coalesced partitioning —
    * every level re-reads it. Dedup keeps each level from joining parallel
    * edges and makes sigma count paths over the simple graph.
    */
  def prepareAdj(edges: DataFrame): DataFrame =
    edges.select("src", "dst").distinct().localCheckpoint(true)

  /** The `k` sources of greatest out-degree in `adj`, ties to the greatest
    * vertex: the seeds of the sampled centralities. O(k) driver rows.
    */
  def topOutDegree(adj: DataFrame, k: Int): Seq[String] =
    adj.groupBy("src").agg(count(lit(1)).as("od"))
      .orderBy(col("od").desc, col("src").desc).limit(k)
      .collect().map(_.getString(0)).toSeq

  /** Directed BFS from a SET of seeds in ONE fixpoint over an adjacency from
    * [[prepareAdj]]. Returns (seed, vertex, dist, sigma): dist = min #hops
    * seed -> vertex, sigma = #shortest seed -> vertex paths (double: counts
    * exceed Long on dense DAGs long before they lose integer precision in a
    * double). Unreached pairs are absent.
    *
    * The frontier is keyed (seed, vertex), so k seeds cost max-eccentricity
    * rounds total instead of k independent loops; the level aggregation
    * sums predecessor sigmas map-side before the exchange. One count per
    * level: the frontier's lazy checkpoint materializes in it.
    */
  def levels(adj: DataFrame, seeds: Seq[String]): DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    var visited = seeds.map(s => (s, s, 0L, 1.0))
      .toDF("seed", "vertex", "dist", "sigma").localCheckpoint(true)
    var frontier = visited.select("seed", "vertex", "sigma")
    var level = 0L
    var frontierCount = seeds.size.toLong
    while (frontierCount > 0) {
      level += 1
      val reached = adj.join(frontier, adj("src") === frontier("vertex"))
        .groupBy(col("seed"), col("dst").as("vertex"))
        .agg(sum("sigma").as("sigma"))
      // level 1's visited set is the seeds themselves: a filter, not a
      // second broadcast of the seed rows next to the frontier's
      val next = (if (level == 1) reached.where(col("vertex") =!= col("seed"))
        else reached.join(visited.select("seed", "vertex"), Seq("seed", "vertex"), "left_anti"))
        .localCheckpoint(false) // lazy: the count below materializes it
      frontierCount = next.count()
      if (frontierCount > 0) {
        // lazy too: a pure union of already-materialized frames, computed
        // inside whichever job consumes it next (the following level's
        // anti-join count, or the caller's action)
        visited = visited
          .union(next.select(col("seed"), col("vertex"), lit(level).as("dist"),
            col("sigma")))
          .localCheckpoint(false)
        frontier = next
      }
    }
    visited
  }

  /** Farthest vertex from source: (vertex, dist); ties -> greatest vertex. */
  def farthest(dists: DataFrame): (String, Long) = {
    val r = dists.agg(
      max_by(struct(col("vertex"), col("dist")), struct(col("dist"), col("vertex"))).as("m"))
      .select(col("m.vertex"), col("m.dist")).head()
    (r.getString(0), r.getLong(1))
  }

  /** Pseudo-diameter: alternating directed BFS sweeps from `source0` until
    * the eccentricity estimate stops improving (graph-tool's algorithm).
    * Returns (dist, srcVertex, trgVertex). The adjacency is prepared ONCE
    * for every sweep.
    */
  def pseudoDiameter(edges: DataFrame, source0: String): (Long, String, String) = {
    val adj = prepareAdj(edges)
    var cur = source0
    var best = -1L
    var bestSrc = source0
    var bestTrg = source0
    var improved = true
    var sweeps = 0
    while (improved && sweeps < MaxSweeps) {
      val (far, d) = farthest(levels(adj, Seq(cur)))
      if (d > best) { best = d; bestSrc = cur; bestTrg = far; cur = far }
      else improved = false
      sweeps += 1
    }
    (best, bestSrc, bestTrg)
  }
}
