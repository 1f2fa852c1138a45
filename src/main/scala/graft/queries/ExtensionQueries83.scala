package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.AsofJoin

/** Round-12 batch 9: sketch mergeability, tolerant as-of joins, and
  * integer trend smoothing.
  *
  *  - q341 sketch mergeability: THE property that makes sketches the
  *    100 TB answer — unioning per-shard sketches must estimate the
  *    union's cardinality within the sketch's error bound. Daily HLL
  *    sketches of active users union into weekly ones and BOTH the
  *    merged and the direct estimates are pinned within 5% of the
  *    exact weekly distinct count. (The r1-r14 form pinned the merged
  *    ESTIMATE bit-equal to the direct sketch's — true only in coupon
  *    mode: the round-15 full sf0.1 sweep caught it red at ~1500
  *    users/week, where the direct sketch still answers from its
  *    order-dependent HIP estimator while the union gadget answers
  *    from the composite estimate, and re-sharding the same rows 2-way
  *    vs 5-way shifts the union estimate too. Bit-equality of
  *    estimates across merge topologies is NOT a DataSketches
  *    guarantee; bounded error after merge IS — so that is the pin.)
  *    Emitted as the q81 certified-row pattern (exact distinct for the
  *    oracle, both error-bound booleans the mirror pins TRUE).
  *  - q342 as-of join with TOLERANCE (pandas merge_asof's `tolerance`,
  *    polars join_asof's `tolerance`): the match is dropped when the
  *    picked signup is more than 1 hour stale — completing the as-of
  *    family (q34 backward, q43 forward, q176 physical operator).
  *  - q343 integer EWMA (α = 1/2): per event type, the daily-count
  *    series folds s₀ = x₀, sₜ = (sₜ₋₁ + xₜ) div 2 IN ORDER — exact
  *    integer smoothing both engines replay identically (the pinned
  *    in-order fold idiom; float EWMA would hang on fold order and
  *    α-power rounding).
  */
object ExtensionQueries83 extends QueryGroup {

  private val DayUs = 86400000000L

  // --------------------------------------------------------------- q341

  /** q341: per integer week — exact active users (the oracle row), the
    * merge-accuracy bound |est(union of daily sketches) − exact| ≤ 5%,
    * and the direct-sketch bound |est(weekly sketch) − exact| ≤ 5%
    * (≈3σ at lgK=12 on both paths).
    */
  def q341_sketch_merge_identity(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts div 1000 div $DayUs").as("day"))
      .withColumn("week", expr("day div 7"))
    val daily = e.groupBy(col("week"), col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val merged = daily.groupBy(col("week"))
      .agg(hll_union_agg(col("sk")).as("skm"), count(lit(1)).as("n_days"))
      .select(col("week"), col("n_days"),
        hll_sketch_estimate(col("skm")).as("est_merged"))
    val direct = e.groupBy(col("week"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("skd"))
      .select(col("week"), hll_sketch_estimate(col("skd")).as("est_direct"))
    val exact = e.select(col("week"), col("user_id")).distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("n_users_exact"))
    exact.join(merged, "week").join(direct, "week")
      .select(col("week"), col("n_days"), col("n_users_exact"),
        (abs(col("est_merged") - col("n_users_exact")).cast("double")
          <= lit(0.05) * col("n_users_exact").cast("double")).as("merge_ok"),
        (abs(col("est_direct") - col("n_users_exact")).cast("double")
          <= lit(0.05) * col("n_users_exact").cast("double")).as("est_ok"))
      .orderBy(col("week"))
  }

  val q341Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |), w AS (SELECT user_id, day, day // 7 AS week FROM e)
      |SELECT week, count(DISTINCT day) AS n_days,
      |  count(DISTINCT user_id) AS n_users_exact,
      |  true AS merge_ok, true AS est_ok
      |FROM w GROUP BY week ORDER BY week""".stripMargin

  // --------------------------------------------------------------- q342

  private val TolUs = 3600000000L // 1 hour

  /** q342: q34's backward as-of join with a 1-hour tolerance — a match
    * staler than the tolerance is dropped (fields null), exactly
    * pandas/polars semantics. The join itself is the unchanged one-
    * shuffle [[AsofJoin.backward]]; tolerance is a post-projection.
    */
  def q342_asof_tolerance(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("us", expr("ts div 1000"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"), col("value"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("us").as("signup_us"),
        col("value").as("signup_value"))
    val stale = col("asof_signup_us").isNotNull &&
      col("us") - col("asof_signup_us") > TolUs
    AsofJoin.backward(purchases, signups, "user_id", "us", "signup_us",
        Seq("signup_us", "signup_value"))
      .select(col("event_id"), col("user_id"), col("us"), col("value"),
        when(stale, lit(null)).otherwise(col("asof_signup_us")).as("signup_us"),
        when(stale, lit(null)).otherwise(col("asof_signup_value")).as("signup_value"))
      .orderBy(col("event_id"))
  }

  val q342Sql: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value
       |  FROM events
       |), p AS (
       |  SELECT event_id, user_id, us, value FROM e WHERE event_type = 'purchase'
       |), sg AS (
       |  SELECT user_id, us AS signup_us, value AS signup_value
       |  FROM e WHERE event_type = 'signup'
       |)
       |SELECT p.event_id, p.user_id, p.us, p.value,
       |  CASE WHEN p.us - sg.signup_us > ${TolUs} THEN NULL
       |       ELSE sg.signup_us END AS signup_us,
       |  CASE WHEN p.us - sg.signup_us > ${TolUs} THEN NULL
       |       ELSE sg.signup_value END AS signup_value
       |FROM p ASOF LEFT JOIN sg
       |  ON p.user_id = sg.user_id AND p.us >= sg.signup_us
       |ORDER BY p.event_id""".stripMargin

  // --------------------------------------------------------------- q343

  /** q343: α=1/2 integer EWMA of the per-type daily event counts —
    * the in-order fold over the (bounded, ~30-day) series; reported
    * beside the plain last-day count so the smoothing is visible.
    */
  def q343_integer_ewma(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), expr(s"ts div 1000 div $DayUs").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        expr("aggregate(transform(sort_array(collect_list(struct(day, c))), " +
          "x -> x.c), -1L, (acc, x) -> if(acc < 0, x, (acc + x) div 2))")
          .as("ewma"),
        max(col("day")).as("last_day"),
        expr("max_by(c, day)").as("last_count"))
      .select(col("event_type"), col("n_days"), col("last_day"),
        col("last_count"), col("ewma"))
      .orderBy(col("event_type"))

  val q343Sql: String =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS c
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT event_type, count(*) AS n_days,
      |  max(day) AS last_day,
      |  CAST(max_by(c, day) AS BIGINT) AS last_count,
      |  CAST(list_reduce(list(c ORDER BY day),
      |    (acc, x) -> (acc + x) // 2) AS BIGINT) AS ewma
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q341_sketch_merge_identity", q341_sketch_merge_identity _, q341Sql),
    Query("q342_asof_tolerance", q342_asof_tolerance _, q342Sql),
    Query("q343_integer_ewma", q343_integer_ewma _, q343Sql)
  )
}
