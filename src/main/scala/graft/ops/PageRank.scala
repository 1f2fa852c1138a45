package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative PageRank in exact integer mass arithmetic (damping 17/20 —
  * the exact rational form of 0.85 — so every engine computes identical
  * bits; see q74's determinism note).
  *
  * Scale shape — the round-4 verdict's one true 100 TB killer was the
  * previous formulation's per-iteration `broadcast(mass)`: a |V|-row frame
  * cannot broadcast when |V| is hundreds of millions (the 8 GB broadcast
  * ceiling kills the job), and nesting five lazy broadcast stages
  * re-computed every earlier iteration inside each later one. This operator
  * is the co-partitioned fixpoint loop instead, the same pattern as
  * [[graft.ext.Dedup.connectedComponents]]:
  *
  *  - the out-degree-annotated edge list materializes ONCE, hash-partitioned
  *    by `src`, via an eager checkpoint (lineage truncated; blocks reused
  *    by all iterations);
  *  - the node set materializes once, hash-partitioned by `id`;
  *  - each iteration's mass frame is ≤ |V| rows keyed by `id`, joined to
  *    the edges with the `shuffle_hash` hint, so it stays a hash join (a
  *    sort-merge plan would re-sort the edge partitions every iteration),
  *    and the contribution partial-aggregate keyed by `dst` shrinks to ~|V|
  *    rows by map-side combine before the wire;
  *  - the checkpoints do NOT keep their hash partitioning for the planner
  *    when adaptive execution is on, as it is in every session here:
  *    `Dataset.localCheckpoint` then records `UnknownPartitioning(0)`, so
  *    the |E|-row edge list is shuffled again at every iteration's join.
  *    q74 at sf0.01 shuffles 1,616,384 records per run, 6 × 231,458 (the
  *    directed edges) of them the edge list. Only with adaptive execution
  *    off does the checkpoint carry its partitioning and the join
  *    co-partition with zero exchange on the edge side (the static shape
  *    PlanShapeSpec pins);
  *  - each new mass frame `localCheckpoint`s eagerly: plan depth stays O(1)
  *    across iterations instead of O(iters), and nothing is ever collected
  *    to or broadcast from the driver. (On a real cluster a reliable
  *    `checkpoint` trades recomputability for executor-loss resilience —
  *    same call site.)
  */
object PageRank {

  /** How a source's mass splits across its out-edges — the only thing the
    * unweighted and weighted forms differ in. Closed: `Unweighted` and
    * `Weighted` are the only values.
    *
    * @param edgeCols  edge columns the loop keeps
    * @param total     per-source aggregate over its out-edges
    * @param totalName name of that aggregate (pre-joined onto every edge,
    *                  and returned per vertex)
    * @param share     per-edge contribution over (mass, edge cols, total)
    */
  final class Split private[PageRank] (val edgeCols: Seq[String], val total: Column,
      val totalName: String, val share: String)

  /** Uniform split: `mass div outdeg` over (src, dst) edges. */
  val Unweighted: Split = new Split(Seq("src", "dst"), count(lit(1)), "outdeg",
    "mass div outdeg")

  /** Split proportional to integer edge weights: `(mass·w) div wtot` over
    * (src, dst, w) edges. The product stays in 64 bits while
    * mass · max-weight < 2⁶³ (at the 10¹² init-mass scale that allows
    * million-fold edge weights).
    */
  val Weighted: Split = new Split(Seq("src", "dst", "w"), sum(col("w")), "wtot",
    "(mass * w) div wtot")

  /** One synchronous PageRank iteration, LAZY (no checkpoint) — exposed so
    * PlanShapeSpec can pin the physical shape: no BroadcastExchange on any
    * |V|-row input, shuffled-hash (not sort-merge) joins, and a partial
    * aggregate on `dst`.
    *
    * @param edges (src, dst, …, total) — the split's total pre-joined so
    *              the hot loop touches exactly one big input
    * @param nodes (id) — every vertex, including danglers
    * @param mass  (id, mass) — current integer mass per vertex
    */
  def step(edges: DataFrame, nodes: DataFrame, mass: DataFrame,
      teleportMass: Long, split: Split = Unweighted): DataFrame = {
    val contrib = edges.join(mass.hint("shuffle_hash"), col("src") === col("id"))
      .select(col("dst"), expr(split.share).as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("inmass"))
    nodes.join(contrib.hint("shuffle_hash"), col("id") === col("dst"), "left")
      .select(col("id"),
        (lit(teleportMass) +
          expr("(17 * coalesce(inmass, 0L)) div 20")).as("mass"))
  }

  /** Full run: `iters` synchronous iterations from a uniform `initMass`.
    *
    * @param rawEdges distinct directed edges with the split's `edgeCols`
    * @param nodes    (id) the full vertex set
    * @return (id, total, mass) — the total column named by the split
    *         (`outdeg` or `wtot`); dangling/isolated vertices keep
    *         teleport-only mass and total 0
    */
  def run(rawEdges: DataFrame, nodes: DataFrame, iters: Int,
      initMass: Long, teleportMass: Long, split: Split = Unweighted): DataFrame = {
    require(iters >= 1)
    // materialize the two loop-invariant inputs once, partitioned on their
    // join keys; persist the raw edge list only while the totals + edges
    // build from it (two consumers), then release it
    val pairs = rawEdges.select(split.edgeCols.map(col): _*).persist()
    val totals = pairs.groupBy(col("src")).agg(split.total.as(split.totalName))
      .transform(graft.core.Ckpt.eager)
    val edges = pairs.join(totals, Seq("src"))
      .repartition(col("src")).transform(graft.core.Ckpt.eager)
    pairs.unpersist()
    val nodeSet = nodes.select(col("id")).repartition(col("id"))
      .transform(graft.core.Ckpt.eager)
    var mass = nodeSet.select(col("id"), lit(initMass).as("mass"))
    for (_ <- 1 to iters)
      mass = step(edges, nodeSet, mass, teleportMass, split).transform(graft.core.Ckpt.eager)
    mass.join(totals.hint("shuffle_hash"), col("id") === col("src"), "left")
      .select(col("id"), coalesce(col(split.totalName), lit(0L)).as(split.totalName),
        col("mass"))
  }
}
