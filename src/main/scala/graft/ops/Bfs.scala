package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-depth multi-source BFS (landmark hop distances) by synchronous
  * frontier expansion — the missing traversal primitive next to the
  * repo's fixpoint graph tier (PageRank / k-core / LPA / star-CC).
  *
  * Per round: frontier ⋈ edges on src (both sides keyed on the same
  * column), distinct the successor set, anti-join
  * the visited set (id-keyed, co-partitioned) to keep only first
  * discoveries, and stamp them with the round number. `localCheckpoint`
  * pins each round's result — without it round k's plan re-derives rounds
  * 1..k-1 (the same reason every fixpoint in `ops` checkpoints). Rounds
  * are bounded by `maxHops`, so the driver loop is O(maxHops) jobs, state
  * is at most |V| (id, dist) rows, and no stage ever materializes more
  * than frontier×avg-degree rows — the textbook Pregel BFS shape, with
  * every structure keyed by vertex id.
  *
  * The edge list is checkpointed src-partitioned, but with adaptive
  * execution on (every session here) `Dataset.localCheckpoint` records
  * `UnknownPartitioning(0)`, so the planner does not see that
  * partitioning and every hop that runs shuffles the edge list again, not
  * only the frontier: q150 at sf0.01 shuffles 886,626 records per run,
  * 3 × 231,458 (the directed edges) of them the edge list.
  *
  * Distances are MINIMUM hop counts by construction (a vertex enters
  * `visited` the first round it is reachable and is excluded forever
  * after), so no min-aggregate is needed at the end.
  */
object Bfs {

  /** @param edges directed (src, dst) — pass both directions for an
    *              undirected traversal
    * @param seeds  (id) distance-0 vertex set
    * @return (id, dist) with dist ∈ [0, maxHops], one row per reached
    *         vertex
    */
  def hops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    // Loop-invariant build side: materialize once, partitioned on the
    // probe key, so every round's join reuses the same shuffle output.
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .transform(graft.core.Ckpt.eager)
    var visited = seeds.select(col("id"), lit(0L).as("dist"))
      .distinct().transform(graft.core.Ckpt.eager)
    var frontier = visited.select(col("id"))
    var d = 0
    var exhausted = frontier.isEmpty
    while (d < maxHops && !exhausted) {
      d += 1
      val next = frontier.join(e, col("id") === col("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .select(col("id"), lit(d.toLong).as("dist"))
        .transform(graft.core.Ckpt.eager)
      visited = visited.union(next).transform(graft.core.Ckpt.eager)
      frontier = next.select(col("id"))
      // Early exit: one cheap limit-1 job against a checkpointed frame.
      exhausted = next.isEmpty
    }
    visited
  }
}
