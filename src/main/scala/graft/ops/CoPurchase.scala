package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The co-purchase graph: two parts are linked when they occur in the
  * same order, weighted by how many orders they share. Every graph query
  * over order baskets (PageRank, BFS, k-core, label propagation,
  * triangles, link prediction, association rules, …) builds its edges
  * here, so the pair decision lives in one place.
  *
  * Scale shape: one self-equijoin on the order key — never all-pairs
  * across orders — and only the canonical `part_a < part_b` half, so the
  * wedge stream and the pair aggregate are half the size of the directed
  * form. Queries that need both directions take [[symmetric]] of the half.
  */
object CoPurchase {

  /** Distinct (l_orderkey, l_partkey) baskets of a lineitem frame. */
  def baskets(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()

  /** Canonical undirected pairs: one row per (part_a < part_b) that shares
    * at least `minCo` orders, with the shared-order count `n_co`.
    * Callers that need only the edge set select the two part columns;
    * the count aggregate is then pruned and the plan is a plain distinct.
    *
    * @param lp    [[baskets]] output
    * @param minCo support threshold; 1 keeps every co-occurring pair
    */
  def pairs(lp: DataFrame, minCo: Int): DataFrame = {
    val counted = lp.as("a").join(lp.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_co"))
    if (minCo > 1) counted.filter(col("n_co") >= minCo) else counted
  }

  /** Directed form of a canonical half: the half plus a copy with its
    * first two columns swapped (any further columns, e.g. a weight, ride
    * along unchanged). Co-occurrence is symmetric, so this is exactly the
    * directed edge set of the `a ≠ b` join at half the join and aggregate
    * cost.
    *
    * The half is eagerly checkpointed ([[graft.core.Ckpt.eager]]) before
    * the flip: ReuseExchange cannot dedupe the flipped branch (the
    * projection swap folds into the aggregate, so the two subtrees
    * canonicalize differently), and without the checkpoint the wedge join
    * runs twice. The checkpoint pins one materialization both branches
    * scan.
    */
  def symmetric(half: DataFrame): DataFrame = {
    val pinned = half.transform(graft.core.Ckpt.eager)
    val Seq(x, y, rest @ _*) = pinned.columns.toSeq
    pinned.union(pinned.select(col(y).as(x) +: col(x).as(y) +: rest.map(col): _*))
  }
}
