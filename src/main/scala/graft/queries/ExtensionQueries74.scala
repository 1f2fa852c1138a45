package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-11 batch 12: the Spark 4 recursive-CTE surface (`WITH
  * RECURSIVE`, Catalyst `UnionLoop`) — iterative queries written in
  * declarative SQL, certified against DuckDB's recursive CTEs.
  *
  * Spark 4.1 executes a recursive CTE as a driver-coordinated loop of
  * DISTRIBUTED jobs: each level is a full Catalyst-planned step over the
  * previous level's rows, so per-row recursions (q314/q315) are
  * embarrassingly parallel and graph steps (q316) are planned equi
  * joins. Guard rails are `spark.sql.cteRecursionLevelLimit` (100) and
  * `spark.sql.cteRecursionRowLimit` (1M): every recursion here is
  * depth-bounded (≤ log₄ maxkey, ≤ 17 payoff months, ≤ 4 hops) and its
  * per-level row count never exceeds the anchor table size, so the
  * working set stays far under both limits at bench scale — and scales
  * to a cluster by raising the row limit, not by re-spelling the query.
  *
  * Determinism: all three recursions are pure integer arithmetic (cents
  * via the round(x*100) money pattern, truncating `div` == DuckDB `//`),
  * so levels and results are bit-identical across engines.
  *
  * Reference anchor: the reference's pandas loops (etl_merge.py:214-233
  * iterative column coercion) are driver-side iteration over columns;
  * the recursive-CTE tier is the data-plane analogue a SQL-first user
  * expects from an analytics engine.
  */
object ExtensionQueries74 extends QueryGroup {

  // --------------------------------------------------------------- q314

  /** q314: hierarchy rollup — parts form a quaternary containment tree
    * (parent(k) = k div 4, root 0); each part walks to the root and the
    * report is the depth histogram with a retail-cents rollup per level.
    *
    * Scale shape: the recursive member is a JOIN-FREE projection+filter
    * of the previous level (one distributed map per level, no shuffle
    * inside the loop); total rows = Σ depth(k) ≈ n·log₄ n, level count
    * log₄ maxkey (~9 at sf1). The aggregate after the loop is a single
    * map-side-combined groupBy over ≤ n·log n rows.
    */
  def q314_recursive_hierarchy(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""WITH RECURSIVE walk(id, cur, depth, cents) AS (
         |  SELECT p_partkey, p_partkey, 0,
         |    CAST(round(p_retailprice * 100) AS BIGINT)
         |  FROM parquet.`$dir/part.parquet`
         |  UNION ALL
         |  SELECT id, cur div 4, depth + 1, cents FROM walk WHERE cur > 0
         |)
         |SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_parts,
         |  CAST(sum(cents) AS BIGINT) AS retail_cents
         |FROM walk WHERE cur = 0
         |GROUP BY depth ORDER BY depth""".stripMargin)

  val q314Sql: String =
    """WITH RECURSIVE walk(id, cur, depth, cents) AS (
      |  SELECT p_partkey, p_partkey, 0,
      |    CAST(round(p_retailprice * 100) AS BIGINT)
      |  FROM part
      |  UNION ALL
      |  SELECT id, cur // 4, depth + 1, cents FROM walk WHERE cur > 0
      |)
      |SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_parts,
      |  CAST(sum(cents) AS BIGINT) AS retail_cents
      |FROM walk WHERE cur = 0
      |GROUP BY depth ORDER BY depth""".stripMargin

  // --------------------------------------------------------------- q315

  /** q315: amortization schedule — every positive customer balance
    * accrues 1%/month and pays max($100, 25% of the accrued balance)
    * until paid off; the report is the payoff-month histogram with the
    * terminal overpayment (how far below zero the last payment lands).
    *
    * The per-level frontier SHRINKS (only unpaid balances recurse), and
    * the 25% floor bounds depth at ⌈log_{4/3}(maxbal/10000)⌉ ≈ 17 for
    * TPC-H balances — a belt `months < 99` guards the level limit
    * regardless of data. Integer cents all the way: accrual and payment
    * use truncating div, so both engines run the identical schedule.
    */
  def q315_recursive_payoff(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""WITH RECURSIVE pay(c_custkey, bal, months) AS (
         |  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), 0
         |  FROM parquet.`$dir/customer.parquet` WHERE c_acctbal > 0
         |  UNION ALL
         |  SELECT c_custkey,
         |    bal + bal div 100 - greatest(10000, (bal + bal div 100) div 4),
         |    months + 1
         |  FROM pay WHERE bal > 0 AND months < 99
         |)
         |SELECT CAST(months AS BIGINT) AS months, count(*) AS n_custs,
         |  CAST(sum(CASE WHEN bal < 0 THEN -bal ELSE 0 END) AS BIGINT)
         |    AS overpay_cents
         |FROM pay WHERE bal <= 0
         |GROUP BY months ORDER BY months""".stripMargin)

  val q315Sql: String =
    """WITH RECURSIVE pay(c_custkey, bal, months) AS (
      |  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT), 0
      |  FROM customer WHERE c_acctbal > 0
      |  UNION ALL
      |  SELECT c_custkey,
      |    bal + bal // 100 - greatest(10000, (bal + bal // 100) // 4),
      |    months + 1
      |  FROM pay WHERE bal > 0 AND months < 99
      |)
      |SELECT CAST(months AS BIGINT) AS months, count(*) AS n_custs,
      |  CAST(sum(CASE WHEN bal < 0 THEN -bal ELSE 0 END) AS BIGINT)
      |    AS overpay_cents
      |FROM pay WHERE bal <= 0
      |GROUP BY months ORDER BY months""".stripMargin

  // --------------------------------------------------------------- q316

  /** q316: the landmark BFS of q150 re-spelled as a recursive CTE —
    * same co-purchase graph, same 3 seeds, same 4-hop bound, same
    * histogram (so `ExtensionQueries74Spec` pins recursive-CTE ==
    * Pregel-loop equivalence row-for-row).
    *
    * Spark supports only UNION ALL recursion (the recursive member sees
    * the PREVIOUS level's rows), so the visited-set dedup of a UNION
    * recursion is recovered by (a) `SELECT DISTINCT` inside the
    * recursive member — caps every level at ≤ |V| rows, never path
    * enumeration — and (b) `min(dist)` per node after the loop. The
    * unreached bucket uses NOT EXISTS, which plans as an equi anti-join
    * (NOT IN would plan a null-aware nested-loop).
    *
    * Loop-invariant hoisting (round-15, the q316 bench-variance fix):
    * UnionLoop has no loop-invariant caching, so an edge list written as
    * a CTE is RE-DERIVED — self-join plus two DISTINCTs — on every level,
    * and the landing order of those repeated shuffles was the noisiest
    * signal in the round-14 bench (spread [5.98, 13.75] at n=5). The
    * edges are loop-invariant by definition, so they are now materialized
    * ONCE via `localCheckpoint` (the same pinning every Pregel-style
    * fixpoint in [[graft.ops]] uses) and the recursion reads the pinned
    * frame through a temp view. The recursive-CTE surface this query
    * certifies — UnionLoop driving the level iteration, DISTINCT dedup,
    * min(dist) consolidation, NOT EXISTS anti-join — is unchanged; only
    * the loop-invariant input is computed the number of times the
    * SEMANTICS require (once). The Pregel spelling in [[graft.ops.Bfs]]
    * (q150) remains the 100 TB shape; this query certifies the SQL
    * surface agrees with it row-for-row.
    */
  def q316_recursive_bfs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import graft.ops.CoPurchase
    val edges = CoPurchase.symmetric(
      CoPurchase.pairs(CoPurchase.baskets(graft.core.Tables.lineitem(s, dir)), minCo = 1)
        .select(col("part_a").as("src"), col("part_b").as("dst")))
      .transform(graft.core.Ckpt.eager) // pin the loop-invariant edge list; levels replay this, not the join
    edges.createOrReplaceTempView("q316_edges")
    s.sql(
      s"""WITH RECURSIVE walk(id, dist) AS (
         |  SELECT p_partkey, 0 FROM parquet.`$dir/part.parquet`
         |  WHERE p_partkey < 3
         |  UNION ALL
         |  SELECT DISTINCT e.dst, w.dist + 1 FROM walk w JOIN q316_edges e ON e.src = w.id
         |  WHERE w.dist < 4
         |), best AS (
         |  SELECT id, min(dist) AS dist FROM walk GROUP BY id
         |)
         |SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_parts FROM best
         |GROUP BY dist
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT) AS dist, count(*) AS n_parts
         |FROM parquet.`$dir/part.parquet` p
         |WHERE NOT EXISTS (SELECT 1 FROM best b WHERE b.id = p.p_partkey)
         |ORDER BY dist""".stripMargin)
  }

  val q316Sql: String =
    """WITH RECURSIVE lp AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lp a JOIN lp b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |), walk(id, dist) AS (
      |  SELECT p_partkey, 0 FROM part WHERE p_partkey < 3
      |  UNION ALL
      |  SELECT DISTINCT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.id
      |  WHERE w.dist < 4
      |), best AS (
      |  SELECT id, min(dist) AS dist FROM walk GROUP BY id
      |)
      |SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_parts FROM best
      |GROUP BY dist
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT) AS dist, count(*) AS n_parts
      |FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM best b WHERE b.id = p.p_partkey)
      |ORDER BY dist""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q314_recursive_hierarchy", q314_recursive_hierarchy _, q314Sql),
    Query("q315_recursive_payoff", q315_recursive_payoff _, q315Sql),
    Query("q316_recursive_bfs", q316_recursive_bfs _, q316Sql)
  )
}
