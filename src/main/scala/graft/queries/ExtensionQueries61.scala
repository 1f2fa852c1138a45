package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{CoPurchase, Sessions}

/** Graph mixing, friction economics, and forecast
  * honesty — exact-integer, DuckDB-oracle-gated.
  *
  *  - q276: degree-assortativity numerator of the co-purchase graph.
  *  - q277: friction impact — conversion with vs without an error in
  *    session.
  *  - q278: naive forecast backtest over weekly event volume.
  */
object ExtensionQueries61 extends QueryGroup {

  // --------------------------------------------------------------- q276

  /** q276: degree-assortativity numerator — over the co-purchase
    * edges, the exact Pearson NUMERATOR `E·Σxy − Σx·Σy` of endpoint
    * degrees (x, y), whose SIGN is the assortativity verdict: positive
    * means hubs prefer hubs (assortative), negative means hubs attach
    * to leaves (disassortative — the retail norm). The denominator
    * needs square roots, so the exact integer statistic stops at the
    * numerator — which carries the verdict and, at fixed scale, the
    * magnitude comparison.
    *
    * Scale shape: degrees are one edge-keyed fold; endpoint-degree
    * pairs come from two key-partitioned joins of the edge list to the
    * tiny degree frame; the moment fold is 1-row. Both edge directions
    * are counted (the standard undirected convention), so Σx = Σy by
    * construction — spec-pinned.
    */
  def q276_degree_assortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = CoPurchase.symmetric(
      CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 1)
        .select(col("part_a").as("src"), col("part_b").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val paired = edges
      .join(deg.select(col("src"), col("d").as("dx")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("dy")), "dst")
    paired.agg(count(lit(1)).as("n_edges"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"))
      .select(col("n_edges"), col("sx"), col("sy"),
        (col("n_edges") * col("sxy") - col("sx") * col("sy"))
          .as("assort_numerator"),
        signum(col("n_edges") * col("sxy") - col("sx") * col("sy"))
          .cast("long").as("verdict"))
  }

  val q276Sql: String =
    """WITH lp AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lp a JOIN lp b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |), deg AS (
      |  SELECT src, count(*) AS d FROM e GROUP BY src
      |), p AS (
      |  SELECT dx.d AS dx, dy.d AS dy
      |  FROM e
      |  JOIN deg dx ON e.src = dx.src
      |  JOIN deg dy ON e.dst = dy.src
      |)
      |SELECT count(*) AS n_edges, CAST(sum(dx) AS BIGINT) AS sx,
      |  CAST(sum(dy) AS BIGINT) AS sy,
      |  CAST(count(*) * sum(dx * dy) - sum(dx) * sum(dy) AS BIGINT)
      |    AS assort_numerator,
      |  CAST(sign(count(*) * sum(dx * dy) - sum(dx) * sum(dy)) AS BIGINT)
      |    AS verdict
      |FROM p""".stripMargin

  // --------------------------------------------------------------- q277

  /** q277: friction impact — conversion rate of sessions that
    * contained an error BEFORE their first purchase (or any error, for
    * non-converters) vs clean sessions, and the ratio in ppm. If
    * errored sessions convert similarly, the errors are cosmetic; a
    * deep gap prices the reliability backlog in conversions. Error-
    * before-purchase ordering matters — a post-purchase error can't
    * have deterred the purchase (spec-pinned).
    *
    * Scale shape: q21's islands; per-session fold computes first-
    * purchase and first-error times together (one aggregate); the
    * report is a 2-row rollup.
    */
  def q277_friction_impact(s: SparkSession, dir: String): DataFrame = {
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .transform(Sessions.flag)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(when(col("event_type") === "purchase", col("us")))
        .as("first_purchase"),
        min(when(col("event_type") === "error", col("us")))
          .as("first_error"))
    sess.select(
        (col("first_error").isNotNull &&
          (col("first_purchase").isNull ||
            col("first_error") < col("first_purchase"))).as("frictioned"),
        when(col("first_purchase").isNotNull, 1L).otherwise(0L)
          .as("converted"))
      .groupBy(col("frictioned"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("converted")).as("n_conv"))
      .select(col("frictioned"), col("n_sessions"), col("n_conv"),
        expr("n_conv * 1000000 div n_sessions").as("conv_ppm"))
      .orderBy(col("frictioned"))
  }

  val q277Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |         > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |), g AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_id
      |  FROM f
      |), sess AS (
      |  SELECT user_id, session_id,
      |    min(CASE WHEN event_type = 'purchase' THEN us END)
      |      AS first_purchase,
      |    min(CASE WHEN event_type = 'error' THEN us END) AS first_error
      |  FROM g GROUP BY user_id, session_id
      |)
      |SELECT first_error IS NOT NULL AND (first_purchase IS NULL
      |    OR first_error < first_purchase) AS frictioned,
      |  count(*) AS n_sessions,
      |  CAST(sum(CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_conv,
      |  CAST(sum(CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END)
      |    * 1000000 // count(*) AS BIGINT) AS conv_ppm
      |FROM sess
      |GROUP BY frictioned
      |ORDER BY frictioned""".stripMargin

  // --------------------------------------------------------------- q278

  /** q278: naive forecast backtest — the last-value forecast
    * (`forecast_w = volume_{w−1}`) backtested over weekly event
    * volumes: per-week absolute error, total MAE in events, and the
    * mean absolute percentage error in exact ppm (`Σ|err|·10⁶ div
    * Σactual`, the volume-weighted WAPE that avoids per-week
    * divisions). The honesty bar any real forecasting model must beat
    * — and the backtest harness is the operator, not the model.
    *
    * Scale shape: one week-keyed count; the forecast join is a
    * week-frame self-join on week−1; folds are 1-row.
    */
  def q278_naive_forecast_backtest(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400000000L
    val weekly = Tables.events(s, dir)
      .select(expr(s"ts div 1000 div $weekUs").as("week"))
      .groupBy(col("week")).agg(count(lit(1)).as("actual"))
    val forecast = weekly.select((col("week") + 1).as("week"),
      col("actual").as("forecast"))
    weekly.join(forecast, "week")
      .agg(count(lit(1)).as("n_weeks"),
        sum(abs(col("actual") - col("forecast"))).as("total_abs_err"),
        sum(col("actual")).as("total_actual"))
      .select(col("n_weeks"), col("total_abs_err"), col("total_actual"),
        expr("total_abs_err * 1000000 div total_actual").as("wape_ppm"))
  }

  val q278Sql: String =
    """WITH w AS (
      |  SELECT epoch_us(ts) // 604800000000 AS week, count(*) AS actual
      |  FROM events GROUP BY week
      |), f AS (
      |  SELECT week + 1 AS week, actual AS forecast FROM w
      |)
      |SELECT count(*) AS n_weeks,
      |  CAST(sum(abs(actual - forecast)) AS BIGINT) AS total_abs_err,
      |  CAST(sum(actual) AS BIGINT) AS total_actual,
      |  CAST(sum(abs(actual - forecast)) * 1000000 // sum(actual)
      |    AS BIGINT) AS wape_ppm
      |FROM w JOIN f ON w.week = f.week""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q276_degree_assortativity", q276_degree_assortativity _, q276Sql),
    Query("q277_friction_impact", q277_friction_impact _, q277Sql),
    Query("q278_naive_forecast_backtest", q278_naive_forecast_backtest _, q278Sql)
  )
}
