package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Ranks

/** Round-14 batch 10: multiple-testing control.
  *
  *  - q431 Benjamini–Hochberg FDR over a FAMILY of exact tests — the
  *    correction layer every metrics platform needs the day it runs
  *    16 experiments at once: per config (user-id residue, q402's
  *    cohorts), an exact binomial sign test on day-over-day
  *    event-volume movement (n ≈ 29 pairs — the events table spans 30
  *    calendar days — constant at every sf, so
  *    the tail enumeration stays LONG-exact), then the BH step-up:
  *    rank p-values ascending, find k* = max{i : p₍ᵢ₎ ≤ α·i/m}, and
  *    reject ranks 1..k*. Everything — the p-values, the thresholds,
  *    the step-up scan — is integer ppm arithmetic; under the null
  *    (hash-assigned cohorts) the spec expects (and pins) a near-empty
  *    rejection set.
  */
object ExtensionQueries115 extends QueryGroup {

  /** α = 5% in ppm. */
  private val AlphaPpm = 50000L

  // -------------------------------------------------------------- q431

  /** q431: per config — sign-test p (exact two-sided binomial, ppm),
    * BH rank, BH threshold α·rank/m (ppm, truncated), and the step-up
    * rejection flag. Scale shape: one groupBy builds the
    * (config, quarter) sums; pairs join on day+1 (broadcast — the
    * daily frame is calendar-bounded); the 16-row p-value frame
    * ranks under [[Ranks.bounded]] and the step-up max broadcasts
    * back. The binomial fold is O(n²) on 16 rows.
    */
  def q431_benjamini_hochberg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select((col("user_id") % 16).as("config"), expr("ts div 1000").as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val t0 = ev.agg(min(col("us")).as("t0"))
    val qsum = ev.crossJoin(broadcast(t0))
      .groupBy(col("config"), expr("(us - t0) div 86400000000").as("day"))
      .agg(sum(col("cents")).as("r"))
    val pairs = qsum.as("a").join(broadcast(qsum.as("b")),
        col("a.config") === col("b.config") && col("b.day") === col("a.day") + 1)
      .select(col("a.config").as("config"), col("a.r").as("x"), col("b.r").as("y"))
      .filter(col("x") =!= col("y"))
    val tests = pairs.groupBy(col("config"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") > col("x"), 1L).otherwise(0L)).as("s"))
    val withP = tests
      .select(col("config"), col("n"), col("s"),
        least(col("s"), col("n") - col("s")).as("m_tail"))
      .select(col("config"), col("n"), col("s"),
        explode(sequence(lit(0L), col("m_tail"))).as("k"))
      .select(col("config"), col("n"), col("s"),
        when(col("k") === 0, lit(1L)).otherwise(
          expr("aggregate(sequence(1L, k), CAST(1 AS BIGINT), " +
            "(acc, i) -> acc * (n - i + 1) div i)")).as("binom"))
      .groupBy(col("config"), col("n"), col("s"))
      .agg(sum(col("binom")).as("tail"))
      .select(col("config"), col("n").as("n_pairs"), col("s").as("n_up"),
        least(expr("2 * tail * 1000000 div shiftleft(CAST(1 AS BIGINT), CAST(n AS INT))"),
          lit(1000000L)).as("p_ppm"))
    val m = withP.agg(count(lit(1)).as("m"))
    val ranked = withP.crossJoin(broadcast(m))
      .withColumn("bh_rank", row_number().over(
        Ranks.bounded(col("config"), col("p_ppm"), col("config"))).cast("long"))
      .withColumn("bh_thresh_ppm", expr(s"$AlphaPpm * bh_rank div m"))
    val kstar = ranked
      .agg(coalesce(max(when(col("p_ppm") <= col("bh_thresh_ppm"), col("bh_rank"))),
        lit(0L)).as("k_star"))
    ranked.crossJoin(broadcast(kstar))
      .select(col("config"), col("n_pairs"), col("n_up"), col("p_ppm"),
        col("bh_rank"), col("bh_thresh_ppm"),
        when(col("bh_rank") <= col("k_star"), 1L).otherwise(0L).as("rejected"))
      .orderBy(col("config"))
  }

  val q431Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id % 16 AS config, epoch_us(ts) AS us,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events
       |), t0 AS (SELECT min(us) AS t0 FROM ev),
       |qsum AS (
       |  SELECT config, (us - t0.t0) // 86400000000 AS day,
       |    CAST(sum(cents) AS BIGINT) AS r
       |  FROM ev, t0 GROUP BY 1, 2
       |), pairs AS (
       |  SELECT a.config, a.r AS x, b.r AS y
       |  FROM qsum a JOIN qsum b ON a.config = b.config AND b.day = a.day + 1
       |  WHERE a.r <> b.r
       |), tests AS (
       |  SELECT config, count(*) AS n,
       |    CAST(sum(CASE WHEN y > x THEN 1 ELSE 0 END) AS BIGINT) AS s
       |  FROM pairs GROUP BY config
       |), ks AS (
       |  SELECT config, n, s, unnest(range(0, least(s, n - s) + 1)) AS k FROM tests
       |), withp AS (
       |  SELECT config, n, s,
       |    least(CAST(2 * sum(CASE WHEN k = 0 THEN CAST(1 AS BIGINT)
       |      ELSE list_reduce(list_prepend(CAST(1 AS BIGINT), range(1, k + 1)),
       |        (acc, i) -> acc * (n - i + 1) // i) END) * 1000000
       |      // (CAST(1 AS BIGINT) << n) AS BIGINT), 1000000) AS p_ppm
       |  FROM ks GROUP BY config, n, s
       |), ranked AS (
       |  SELECT config, n AS n_pairs, s AS n_up, p_ppm,
       |    row_number() OVER (ORDER BY p_ppm, config) AS bh_rank,
       |    count(*) OVER () AS m
       |  FROM withp
       |), kstar AS (
       |  SELECT coalesce(max(CASE WHEN p_ppm <= $AlphaPpm * bh_rank // m
       |    THEN bh_rank END), 0) AS k_star
       |  FROM ranked
       |)
       |SELECT r.config, r.n_pairs, r.n_up, r.p_ppm,
       |  CAST(r.bh_rank AS BIGINT) AS bh_rank,
       |  $AlphaPpm * r.bh_rank // r.m AS bh_thresh_ppm,
       |  CAST(CASE WHEN r.bh_rank <= k.k_star THEN 1 ELSE 0 END AS BIGINT)
       |    AS rejected
       |FROM ranked r CROSS JOIN kstar k
       |ORDER BY r.config""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q431_benjamini_hochberg", q431_benjamini_hochberg _, q431Sql)
  )
}
