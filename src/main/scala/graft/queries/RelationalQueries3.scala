package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{FpSafe, Tables}
import graft.ops.AsofJoin

/** Final relational coverage batch: banker's rounding with provable ties,
  * backward as-of join, pivot, distinct counts.
  */
object RelationalQueries3 extends QueryGroup {
  import FpSafe._

  /** q33: the pandas rounding suite (SURVEY §2 F12) with REAL half-even
    * ties: l_quantity/8 and /2 are exact binary fractions, so .5 boundary
    * cases occur and distinguish bround (HALF_EVEN, pandas-faithful) from
    * round (HALF_UP). The oracle implements half-even explicitly via floor
    * parity — DuckDB's own round() is half-away and would NOT match.
    *
    * REGIME BOUND (round-11 10×-rung kc=0.93): output = input — every
    * row is projected, rounded, sorted, and EMITTED, so the query is
    * Ω(n) on its own output alone; the global sort adds n·log n range
    * exchange. The projection is pure codegen arithmetic riding the
    * columnar scan (ExplainAudit: one WholeStageCodegen span over
    * scan→project; the sort is the output ORDER contract, rows/log-rows
    * deep). kc≈0.93 IS the per-row asymptote surfacing — same regime
    * as q13/q14, nothing to fix without dropping the total-order output.
    */
  def q33_bround_ties(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // no cache: the sort's range-sampling job re-runs the scan+projection,
    // but the bround projection is pure codegen arithmetic — measured
    // (round 4, sf0.1) recompute 1.26 s vs persist 2.12 s; columnar cache
    // materialization costs more than the second pass it saves. The
    // 4-column key stays — (l_orderkey, l_linenumber) is not unique in the
    // synthetic lineitem, and the output must be a total order.
    li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      (col("l_quantity") / 8).as("a"), (col("l_quantity") / 2).as("b"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        bround(col("a"), 2).as("bround_a2"),
        bround(col("b"), 0).as("bround_b0"),
        round(col("b"), 0).as("round_b0"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
  }

  val q33Sql: String =
    """WITH src AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    l_quantity/8 AS a, l_quantity/2 AS b
      |  FROM lineitem
      |), he AS (
      |  SELECT *, a*100 AS ra, floor(a*100) AS fa, b AS rb, floor(b) AS fb FROM src
      |)
      |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  (CASE WHEN ra - fa > 0.5 THEN fa + 1
      |        WHEN ra - fa < 0.5 THEN fa
      |        ELSE fa + (CAST(fa AS BIGINT) % 2) END) / 100.0 AS bround_a2,
      |  CASE WHEN rb - fb > 0.5 THEN fb + 1
      |       WHEN rb - fb < 0.5 THEN fb
      |       ELSE fb + (CAST(fb AS BIGINT) % 2) END AS bround_b0,
      |  round(b, 0) AS round_b0
      |FROM he
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  /** q34: backward as-of join (SURVEY §2 G — absent from Spark, classic
    * time-series op): each purchase event picks up the user's latest prior
    * (or simultaneous) signup. Oracle: DuckDB's native ASOF LEFT JOIN.
    * Implementation: union-and-fill, one shuffle on user_id (AsofJoin).
    */
  def q34_asof_join(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("us", expr("ts div 1000"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"), col("value"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("us").as("signup_us"), col("value").as("signup_value"))
    AsofJoin.backward(purchases, signups, "user_id", "us", "signup_us",
      Seq("signup_us", "signup_value"))
      .select(col("event_id"), col("user_id"), col("us"), col("value"),
        col("asof_signup_us").as("signup_us"), col("asof_signup_value").as("signup_value"))
      .orderBy(col("event_id"))
  }

  val q34Sql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events
      |  WHERE event_type = 'purchase'
      |), su AS (
      |  SELECT user_id, epoch_us(ts) AS signup_us, value AS signup_value FROM events
      |  WHERE event_type = 'signup'
      |)
      |SELECT p.event_id, p.user_id, p.us, p.value, su.signup_us, su.signup_value
      |FROM p ASOF LEFT JOIN su
      |  ON p.user_id = su.user_id AND p.us >= su.signup_us
      |ORDER BY p.event_id""".stripMargin

  /** q35: pivot (SURVEY §2 E — grouping-sets family): event counts per user
    * decile, one column per event type (explicit value list → deterministic
    * schema; never let pivot scan for values at scale).
    */
  def q35_pivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val e = Tables.events(s, dir)
    e.groupBy((col("user_id") % 10).as("user_bucket"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy(col("user_bucket"))
  }

  val q35Sql: String =
    """SELECT user_id % 10 AS user_bucket,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'error') AS error,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup') AS signup,
      |  count(*) FILTER (event_type = 'view') AS view
      |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin

  /** q36: exact distinct counts (SURVEY §2 E — distinct-count row). The
    * approx_count_distinct/HLL variant cannot hash-match a different
    * engine's sketch; its error bound is pinned in AggregatorSpec instead.
    */
  def q36_distinct_counts(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  val q36Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q33_bround_ties", q33_bround_ties _, q33Sql),
    Query("q34_asof_join", q34_asof_join _, q34Sql),
    Query("q35_pivot", q35_pivot _, q35Sql),
    Query("q36_distinct_counts", q36_distinct_counts _, q36Sql)
  )
}
