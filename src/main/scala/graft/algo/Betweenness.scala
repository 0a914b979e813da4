package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Source-sampled betweenness centrality (Brandes 2001) as level-synchronous
  * DataFrame passes (lodcc exposes centrality-family measures per dataset,
  * `graph/measures/` — betweenness is the standard one its graph-tool
  * backend offers that the engine lacked).
  *
  * Forward pass: [[Bfs.levels]], whose frontier carries sigma = #shortest
  * paths from its seed.
  *
  * Backward pass: Brandes' dependency accumulation by DESCENDING level.
  * Every shortest-path predecessor of a dist-d vertex sits at dist d-1, so
  * delta(v) is complete after processing level dist(v)+1 — maxDist joins
  * total (2-4 on the dense bench graphs), each a (seed, vertex) equi-join
  * with lazy lineage truncation, materialized by the caller's single action.
  *
  * bc(v) = sum over seeds s != v of delta_s(v); exact for the sampled seed
  * set (no approximation beyond the sampling itself).
  */
object Betweenness {

  /** Sampled betweenness from `seeds` over an adjacency from
    * [[Bfs.prepareAdj]]: (vertex, betweenness, n_seeds) where betweenness =
    * sum over seeds of Brandes' delta and n_seeds = #seeds whose BFS tree
    * assigns the vertex a positive dependency. No seeds, no rows.
    */
  def run(adj: DataFrame, seeds: Seq[String]): DataFrame = {
    // eager: the DAG build and every backward level re-read it
    val vis = Bfs.levels(adj, seeds).localCheckpoint(true)
    // 0 when `vis` is empty (no seeds): the backward loop then never runs
    val maxD = vis.agg(coalesce(max("dist"), lit(0L))).head().getLong(0)

    // shortest-path DAG edges per seed: (seed, v, w) with dist(w)=dist(v)+1;
    // explicit plan aliases — both sides derive from `vis`, so bare column
    // refs would be a self-join ambiguity
    val dv = vis.select(col("seed"), col("vertex").as("v"),
      col("dist").as("dv"), col("sigma").as("sigma_v")).as("l")
    val dw = vis.select(col("seed"), col("vertex").as("w"),
      col("dist").as("dw"), col("sigma").as("sigma_w")).as("r")
    val dag = adj.join(dv, adj("src") === col("l.v"))
      .join(dw, col("r.seed") === col("l.seed") && adj("dst") === col("r.w") &&
        col("r.dw") === col("l.dv") + 1)
      .select(col("l.seed"), col("v"), col("w"), col("sigma_v"), col("sigma_w"),
        col("dw"))
      .localCheckpoint(true) // pin the DAG once; the level loop reuses it maxD times

    val spark = adj.sparkSession
    import spark.implicits._
    var delta = Seq.empty[(String, String, Double)]
      .toDF("seed", "vertex", "delta")
    var d = maxD
    while (d >= 1) {
      // successors w at dist d with their (already final) deltas
      val wd = vis.where(col("dist") === d)
        .join(delta.withColumnRenamed("delta", "delta_w"),
          Seq("seed", "vertex"), "left")
        .select(col("seed"), col("vertex").as("w"),
          coalesce(col("delta_w"), lit(0.0)).as("delta_w"))
      val contrib = dag.where(col("dw") === d)
        .join(wd, Seq("seed", "w"))
        .groupBy(col("seed"), col("v").as("vertex"))
        .agg(sum(col("sigma_v") / col("sigma_w") * (lit(1.0) + col("delta_w")))
          .as("delta"))
      // lazy checkpoint: truncates the per-level lineage; all levels
      // materialize in the caller's single action. Every 8th level the
      // checkpoint is EAGER so a high-diameter graph (chains, road
      // networks) never accumulates an unboundedly deep join chain inside
      // one job (the discipline written up in ConnectedComponents; on the
      // bench graphs maxD is 3-4 and the eager branch never fires).
      delta = delta.union(contrib.select("seed", "vertex", "delta"))
        .localCheckpoint((maxD - d) % 8 == 7)
      d -= 1
    }
    val out = delta.where(col("vertex") =!= col("seed"))
      .groupBy("vertex")
      .agg(round(sum("delta"), 6).as("betweenness"),
        count(lit(1)).cast("bigint").as("n_seeds"))
    out.localCheckpoint() // run while the checkpointed inputs are live
  }
}
