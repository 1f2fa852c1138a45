package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-13 batch 12: ordered string aggregation, churn hazards, and
  * peak detection.
  *
  *  - q388 `listagg(... ORDER BY ...)` (new in Spark 4) — the ordered
  *    string-aggregation surface. An ORDERED listagg is deterministic
  *    and cross-engine hashable where a bare collect_list is not —
  *    the same reason every rank in this repo carries a tiebreak.
  *  - q389 discrete churn hazard table — per activity-week k since a
  *    user's first event: users at risk, users whose LAST week is k,
  *    and the hazard d_k/n_k in ppm. The full-curve complement to
  *    q182/q240's fixed-horizon retention; survival itself needs a
  *    cumulative product, which the consumer composes from the exact
  *    hazard column.
  *  - q390 local-peak detection over daily revenue — strict local
  *    maxima over a ±3-day window with a margin threshold, via
  *    calendar-bounded windows (q140 flags seasonal anomalies, q187
  *    finds level shifts; this finds spikes).
  */
object ExtensionQueries99 extends QueryGroup {

  // --------------------------------------------------------------- q388

  /** q388: per market segment — customer count and the ordered listagg
    * of its top-5 account-balance customer keys (exact cents ordering,
    * key tiebreak). Scale shape: one rank shuffle on the segment key,
    * one ordered-listagg fold over ≤5 rows per group.
    */
  def q388_listagg(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("bal_c").desc, col("c_custkey"))
    val top = c.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
    val agg = top.groupBy(col("c_mktsegment"))
      .agg(expr("listagg(CAST(c_custkey AS STRING), ',') " +
        "WITHIN GROUP (ORDER BY bal_c DESC, c_custkey)").as("top5_keys"))
    val n = c.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
    n.join(agg, "c_mktsegment").orderBy(col("c_mktsegment"))
  }

  val q388Sql: String =
    """WITH ranked AS (
      |  SELECT c_mktsegment, c_custkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) DESC, c_custkey) AS rk
      |  FROM customer
      |), agg AS (
      |  SELECT c_mktsegment,
      |    string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY bal_c DESC, c_custkey)
      |      AS top5_keys
      |  FROM ranked WHERE rk <= 5 GROUP BY 1
      |), n AS (
      |  SELECT c_mktsegment, count(*) AS n_customers FROM customer GROUP BY 1
      |)
      |SELECT n.c_mktsegment, n.n_customers, agg.top5_keys
      |FROM n JOIN agg USING (c_mktsegment)
      |ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------- q389

  /** q389: per activity-week k (0-based, from each user's first event
    * week): n_at_risk (users whose span reaches k), churned (users
    * whose LAST active week is k), hazard ppm. Scale shape: per-user
    * min/max rollup, a span explode bounded by the calendar, one
    * week-keyed rollup.
    */
  def q389_hazard_table(s: SparkSession, dir: String): DataFrame = {
    val spans = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
      .groupBy(col("user_id"))
      .agg(min(col("wk")).as("w0"), max(col("wk")).as("w1"))
      .select((col("w1") - col("w0")).as("last_k"))
    val atRisk = spans.select(explode(sequence(lit(0L), col("last_k"))).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_at_risk"))
    val churned = spans.groupBy(col("last_k").as("k"))
      .agg(count(lit(1)).as("churned"))
    atRisk.join(churned, Seq("k"), "left")
      .select(col("k"), col("n_at_risk"),
        coalesce(col("churned"), lit(0L)).as("churned"))
      .withColumn("hazard_ppm", expr("churned * 1000000 div n_at_risk"))
      .orderBy(col("k"))
  }

  val q389Sql: String =
    """WITH spans AS (
      |  SELECT user_id, max(epoch_us(ts) // 604800000000)
      |    - min(epoch_us(ts) // 604800000000) AS last_k
      |  FROM events GROUP BY 1
      |), at_risk AS (
      |  SELECT k, count(*) AS n_at_risk
      |  FROM spans, unnest(range(0, last_k + 1)) t(k)
      |  GROUP BY 1
      |), churned AS (
      |  SELECT last_k AS k, count(*) AS churned FROM spans GROUP BY 1
      |)
      |SELECT a.k, a.n_at_risk, coalesce(c.churned, 0) AS churned,
      |  CAST(coalesce(c.churned, 0) * 1000000 // a.n_at_risk AS BIGINT) AS hazard_ppm
      |FROM at_risk a LEFT JOIN churned c USING (k)
      |ORDER BY k""".stripMargin

  // --------------------------------------------------------------- q390

  /** q390: strict local revenue peaks — days whose revenue exceeds
    * every neighbor within ±3 days by ≥ 5% (margin in exact integer
    * cross-multiplication: 20·r > 21·max_neighbor). Gaps in the
    * calendar simply shorten the neighborhood (range frame on the DAY
    * axis, not row offsets). Scale shape: daily rollup, one
    * calendar-bounded range-frame window keyed by the Ranks.bounded-style
    * single non-foldable bucket.
    */
  def q390_local_peaks(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev_c"))
    daily
      // neighbor max EXCLUDING self: two one-sided range frames (a
      // symmetric frame would include the row and never beat itself)
      .withColumn("left_max", max(col("rev_c")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(hash(col("day")), lit(1)))
          .orderBy(col("day")).rangeBetween(-3, -1)))
      .withColumn("right_max", max(col("rev_c")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(hash(col("day")), lit(1)))
          .orderBy(col("day")).rangeBetween(1, 3)))
      .withColumn("nbr", greatest(coalesce(col("left_max"), lit(0L)),
        coalesce(col("right_max"), lit(0L))))
      .filter(col("nbr") > 0 && col("rev_c") * 20 > col("nbr") * 21)
      .select(col("day"), col("rev_c"), col("nbr").as("neighbor_max_c"),
        expr("(rev_c - nbr) * 1000000 div nbr").as("margin_ppm"))
      .orderBy(col("day"))
  }

  val q390Sql: String =
    """WITH daily AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM orders GROUP BY 1
      |), n AS (
      |  SELECT day, rev_c,
      |    greatest(
      |      coalesce(max(rev_c) OVER (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING), 0),
      |      coalesce(max(rev_c) OVER (ORDER BY day RANGE BETWEEN 1 FOLLOWING AND 3 FOLLOWING), 0)
      |    ) AS nbr
      |  FROM daily
      |)
      |SELECT day, rev_c, nbr AS neighbor_max_c,
      |  CAST((rev_c - nbr) * 1000000 // nbr AS BIGINT) AS margin_ppm
      |FROM n WHERE nbr > 0 AND rev_c * 20 > nbr * 21
      |ORDER BY day""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q388_listagg", q388_listagg _, q388Sql),
    Query("q389_hazard_table", q389_hazard_table _, q389Sql),
    Query("q390_local_peaks", q390_local_peaks _, q390Sql)
  )
}
