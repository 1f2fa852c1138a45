package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.CoPurchase

/** Round-9 batch 12: privacy auditing and distribution profiling.
  *
  *  - q168: k-anonymity audit over quasi-identifiers — the privacy
  *    release gate.
  *  - q169: exact equi-width histogram — the profiling complement to
  *    q61's equi-depth bins.
  *  - q170: co-purchase degree distribution in power-of-two buckets —
  *    graph shape observability without a single float.
  */
object ExtensionQueries24 extends QueryGroup {

  // --------------------------------------------------------------- q168

  /** q168: k-anonymity audit (k = 5) over the customer quasi-identifier
    * tuple (market segment, nation, $1000 account-balance band): per
    * segment, how many QI groups exist, how many fall below k, how many
    * ROWS sit in those at-risk groups, and the suppression rate a
    * k-anonymous release would need — the standard privacy audit before
    * sharing "anonymized" data (Sweeney's k-anonymity).
    *
    * Scale shape: one QI-keyed count aggregate (map-side combined), one
    * segment-keyed rollup of the group frame — the group frame is
    * already orders of magnitude smaller than the table. Balance bands
    * use the repo's cents convention; negative balances band by the
    * shared truncate-toward-zero division on both engines.
    */
  def q168_k_anonymity(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val groups = Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000").as("bal_band"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("bal_band"))
      .agg(count(lit(1)).as("gn"))
    groups.groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("gn") < k, 1L).otherwise(0L)).as("groups_at_risk"),
        sum(when(col("gn") < k, col("gn")).otherwise(0L)).as("rows_at_risk"),
        sum(col("gn")).as("n_rows"))
      .select(col("c_mktsegment"), col("n_groups"), col("groups_at_risk"),
        col("rows_at_risk"),
        expr("rows_at_risk * 1000000 div n_rows").as("suppression_ppm"))
      .orderBy(col("c_mktsegment"))
  }

  val q168Sql: String =
    """WITH g AS (
      |  SELECT c_mktsegment, c_nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band,
      |    count(*) AS gn
      |  FROM customer
      |  GROUP BY c_mktsegment, c_nationkey, bal_band
      |)
      |SELECT c_mktsegment,
      |  count(*) AS n_groups,
      |  CAST(sum(CASE WHEN gn < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS groups_at_risk,
      |  CAST(sum(CASE WHEN gn < 5 THEN gn ELSE 0 END) AS BIGINT)
      |    AS rows_at_risk,
      |  CAST(sum(CASE WHEN gn < 5 THEN gn ELSE 0 END) * 1000000
      |       // sum(gn) AS BIGINT) AS suppression_ppm
      |FROM g GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------- q169

  /** q169: exact equi-width histogram of order values — 20 buckets over
    * [min, max] cents with the inclusive-range bucket map
    * `(cents − mn) · 20 div (mx − mn + 1)` (pure integer; the +1 keeps
    * the max value inside bucket 19). Reports each bucket's inclusive
    * lower bound, count, and share — the profiling complement to q61's
    * equi-depth quantile bins (equi-width shows SHAPE, equi-depth shows
    * spread).
    *
    * Scale shape: the min/max pass is a 1-row aggregate broadcast into
    * the bucketing scan (two scans total, both full-width map-side
    * aggregates); empty buckets are absent rather than densified — the
    * report is ≤20 rows either way.
    */
  def q169_equiwidth_hist(s: SparkSession, dir: String): DataFrame = {
    val nb = 20
    val o = Tables.orders(s, dir)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
    val bounds = o.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    val total = o.agg(count(lit(1)).as("n_total"))
    o.crossJoin(broadcast(bounds))
      .select(expr(s"(cents - mn) * $nb div (mx - mn + 1)").as("bucket"),
        col("mn"), col("mx"))
      .groupBy(col("bucket"), col("mn"), col("mx"))
      .agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(total))
      .select(col("bucket"),
        expr(s"mn + bucket * (mx - mn + 1) div $nb").as("lo_cents"),
        col("n_orders"),
        expr("n_orders * 1000000 div n_total").as("share_ppm"))
      .orderBy(col("bucket"))
  }

  val q169Sql: String =
    """WITH o AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
      |), b AS (
      |  SELECT min(cents) AS mn, max(cents) AS mx FROM o
      |), t AS (
      |  SELECT count(*) AS n_total FROM o
      |), h AS (
      |  SELECT (cents - mn) * 20 // (mx - mn + 1) AS bucket, mn, mx,
      |    count(*) AS n_orders
      |  FROM o, b GROUP BY bucket, mn, mx
      |)
      |SELECT bucket,
      |  mn + bucket * (mx - mn + 1) // 20 AS lo_cents,
      |  n_orders,
      |  CAST(n_orders * 1000000 // n_total AS BIGINT) AS share_ppm
      |FROM h, t
      |ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- q170

  /** q170: degree distribution of the co-purchase part graph in
    * power-of-two buckets — bucket = ⌊log₂(deg)⌋ computed as
    * `length(bin(deg)) − 1` (binary-string length: pure integer on both
    * engines, no float log to disagree at powers of two) — plus an
    * explicit `-1` bucket for isolated parts. The graph-shape audit
    * (scale-free tails are where skew mitigation matters) with zero
    * floats.
    *
    * Scale shape: the q74 edge construction, then one src-keyed count
    * and one bucket-keyed count; isolated nodes come from an id-keyed
    * anti-join.
    */
  def q170_degree_histogram(s: SparkSession, dir: String): DataFrame = {
    val edges = CoPurchase.symmetric(
      CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 1)
        .select(col("part_a").as("src"), col("part_b").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val buckets = deg
      .select((length(bin(col("deg"))) - 1).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_parts"))
    val isolated = Tables.part(s, dir).select(col("p_partkey").as("src"))
      .join(deg, Seq("src"), "left_anti")
      .agg(count(lit(1)).as("n_parts"))
      .select(lit(-1L).as("bucket"), col("n_parts"))
    buckets.union(isolated).orderBy(col("bucket"))
  }

  val q170Sql: String =
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lp a JOIN lp b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |), d AS (
      |  SELECT src, count(*) AS deg FROM e GROUP BY src
      |)
      |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
      |  count(*) AS n_parts
      |FROM d GROUP BY bucket
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT), count(*)
      |FROM part WHERE p_partkey NOT IN (SELECT src FROM d)
      |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q168_k_anonymity", q168_k_anonymity _, q168Sql),
    Query("q169_equiwidth_hist", q169_equiwidth_hist _, q169Sql),
    Query("q170_degree_histogram", q170_degree_histogram _, q170Sql)
  )
}
