package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 50: exploration behavior, pricing-quality linkage,
  * and volume memory — exact-integer, DuckDB-oracle-gated.
  *
  *  - q279: basket exploration rate — orders that introduce a part the
  *    customer never bought before.
  *  - q280: discount × return interaction with the exact chi-square
  *    verdict.
  *  - q281: weekly volume persistence — the lag-1 autocovariance
  *    numerator.
  */
object ExtensionQueries62 extends QueryGroup {

  // --------------------------------------------------------------- q279

  /** q279: basket exploration rate — an order is EXPLORATORY when it
    * contains at least one part its customer had never ordered before
    * (strictly earlier order date; same-date orders tie-break by order
    * key). Reports the corpus split: exploratory vs repeat-only order
    * counts and shares in ppm, plus how many exploratory orders are
    * pure-exploration (ALL parts new). The repeat-vs-explore balance
    * behind assortment and recommendation strategy.
    *
    * Scale shape: each (customer, part)'s FIRST order is one
    * (cust, part)-keyed struct-min fold; flags join back key-
    * partitioned; order-level and corpus-level folds follow. No
    * windows.
    */
  def q279_exploration_rate(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("l_partkey"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("day"))
    val first = lines.groupBy(col("o_custkey"), col("l_partkey"))
      .agg(min(struct(col("day"), col("o_orderkey"))).as("f"))
      .select(col("o_custkey"), col("l_partkey"),
        col("f.o_orderkey").as("first_order"))
    val flagged = lines.join(first, Seq("o_custkey", "l_partkey"))
      .select(col("o_orderkey"),
        when(col("o_orderkey") === col("first_order"), 1L).otherwise(0L)
          .as("is_new"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_parts"), sum(col("is_new")).as("n_new"))
    flagged.agg(count(lit(1)).as("n_orders"),
        sum(when(col("n_new") > 0, 1L).otherwise(0L)).as("n_exploratory"),
        sum(when(col("n_new") === col("n_parts"), 1L).otherwise(0L))
          .as("n_pure_exploration"))
      .select(col("n_orders"), col("n_exploratory"),
        col("n_pure_exploration"),
        expr("n_exploratory * 1000000 div n_orders").as("explore_ppm"),
        expr("n_pure_exploration * 1000000 div n_orders")
          .as("pure_explore_ppm"))
  }

  val q279Sql: String =
    """WITH lines AS (
      |  SELECT o_custkey, o_orderkey, l_partkey,
      |    CAST(datediff('day', DATE '1970-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), f AS (
      |  SELECT o_custkey, l_partkey, o_orderkey AS first_order FROM (
      |    SELECT o_custkey, l_partkey, o_orderkey,
      |      row_number() OVER (PARTITION BY o_custkey, l_partkey
      |        ORDER BY day, o_orderkey) AS rn
      |    FROM lines
      |  ) WHERE rn = 1
      |), fl AS (
      |  SELECT lines.o_orderkey, count(*) AS n_parts,
      |    CAST(sum(CASE WHEN lines.o_orderkey = first_order
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      |  FROM lines JOIN f ON lines.o_custkey = f.o_custkey
      |    AND lines.l_partkey = f.l_partkey
      |  GROUP BY lines.o_orderkey
      |)
      |SELECT count(*) AS n_orders,
      |  CAST(sum(CASE WHEN n_new > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_exploratory,
      |  CAST(sum(CASE WHEN n_new = n_parts THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_pure_exploration,
      |  CAST(sum(CASE WHEN n_new > 0 THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS explore_ppm,
      |  CAST(sum(CASE WHEN n_new = n_parts THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS pure_explore_ppm
      |FROM fl""".stripMargin

  // --------------------------------------------------------------- q280

  /** q280: discount × return interaction — the 2×2 table (line
    * discounted × line returned) with q181's exact DECIMAL/HUGEINT
    * chi-square verdict at 5%. "Do discounted lines come back more?"
    * links the pricing lever (q258) to the quality alarm (q256) with a
    * significance answer instead of two dashboards.
    *
    * Scale shape: one lineitem pass → a 1-row cell fold → a 4-scalar
    * driver BigInt fold ([[ExtensionQueries29.chiSquareExact]]) — exact
    * at any magnitude, no DECIMAL(38,0) ceiling (round-10 verdict task
    * #6: the previous chained-DECIMAL tail went NULL past num ≈ 1e38,
    * ~3·10⁸ rows per cell, where DuckDB's HUGEINT stayed exact).
    */
  def q280_discount_return_interaction(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select(when(col("l_discount") > 0, 1L).otherwise(0L).as("disc"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
    ExtensionQueries29.chiSquareExact(s, l.agg(
        sum(when(col("disc") === 1 && col("ret") === 1, 1L).otherwise(0L))
          .as("a"),
        sum(when(col("disc") === 1 && col("ret") === 0, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("disc") === 0 && col("ret") === 1, 1L).otherwise(0L))
          .as("c"),
        sum(when(col("disc") === 0 && col("ret") === 0, 1L).otherwise(0L))
          .as("d")))
  }

  val q280Sql: String =
    """WITH l AS (
      |  SELECT CASE WHEN l_discount > 0 THEN 1 ELSE 0 END AS disc,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      |  FROM lineitem
      |), t AS (
      |  SELECT
      |    CAST(sum(CASE WHEN disc = 1 AND ret = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN disc = 1 AND ret = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN disc = 0 AND ret = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN disc = 0 AND ret = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM l
      |), w AS (
      |  SELECT a, b, c, d,
      |    CAST(a + b + c + d AS HUGEINT)
      |      * CAST(a*d - b*c AS HUGEINT)
      |      * CAST(a*d - b*c AS HUGEINT) * 1000000 AS num,
      |    CAST(a + b AS HUGEINT) * CAST(c + d AS HUGEINT)
      |      * CAST(a + c AS HUGEINT) * CAST(b + d AS HUGEINT) AS den
      |  FROM t
      |)
      |SELECT a, b, c, d, CAST(num // den AS BIGINT) AS chi2_micro,
      |  num > den * 3841459 AS significant
      |FROM w""".stripMargin

  // --------------------------------------------------------------- q281

  /** q281: weekly volume persistence — the lag-1 autocovariance
    * NUMERATOR `n·Σ xₜxₜ₊₁ − Σxₜ·Σxₜ₊₁` over consecutive weekly event
    * volumes, exact; positive sign = momentum (busy weeks follow busy
    * weeks — smoothing forecasts will work), negative = mean
    * reversion. Completes q278's backtest pair: WAPE says how wrong
    * naive is, persistence says WHY.
    *
    * Scale shape: week-keyed count + week−1 self-join + 1-row moment
    * fold (q276's numerator discipline on the time axis).
    */
  def q281_volume_persistence(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400000000L
    val weekly = Tables.events(s, dir)
      .select(expr(s"ts div 1000 div $weekUs").as("week"))
      .groupBy(col("week")).agg(count(lit(1)).as("x"))
    val nxt = weekly.select((col("week") - 1).as("week"),
      col("x").as("y"))
    weekly.join(nxt, "week")
      .agg(count(lit(1)).as("n_pairs"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
      .select(col("n_pairs"),
        (col("n_pairs") * col("sxy") - col("sx") * col("sy"))
          .as("persistence_num"),
        signum(col("n_pairs") * col("sxy") - col("sx") * col("sy"))
          .cast("long").as("verdict"))
  }

  val q281Sql: String =
    """WITH w AS (
      |  SELECT epoch_us(ts) // 604800000000 AS week, count(*) AS x
      |  FROM events GROUP BY week
      |), p AS (
      |  SELECT a.x AS x, b.x AS y
      |  FROM w a JOIN w b ON b.week = a.week + 1
      |)
      |SELECT count(*) AS n_pairs,
      |  CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT)
      |    AS persistence_num,
      |  CAST(sign(count(*) * sum(x * y) - sum(x) * sum(y)) AS BIGINT)
      |    AS verdict
      |FROM p""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q279_exploration_rate", q279_exploration_rate _, q279Sql),
    Query("q280_discount_return_interaction", q280_discount_return_interaction _, q280Sql),
    Query("q281_volume_persistence", q281_volume_persistence _, q281Sql)
  )
}
