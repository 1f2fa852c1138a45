package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan

/** Round-13 batch 11: completing the drift/trend/seasonality test
  * family with exact integer statistics.
  *
  *  - q385 Cramér–von Mises-type two-sample distance — the
  *    WHOLE-CURVE ECDF discrepancy (q167's KS is the sup-norm; CvM
  *    integrates every gap, catching distributional shifts KS's single
  *    worst point underweights). d_i = n₂·F₁cum − n₁·F₂cum is integer
  *    at every pooled value; the statistic Σ cnt·d² normalizes by
  *    N·(n₁n₂)² into ppm through DECIMAL(38,0).
  *  - q386 Mann–Kendall trend test with tie correction — the
  *    SIGNIFICANCE complement to q374's Theil–Sen slope (the two are
  *    the classic pairing): S from the calendar-bounded pair join,
  *    18·Var(S) kept integer, z in milli via floor(sqrt) on the
  *    < 2⁵³ radicand.
  *  - q387 weekday η² (variance explained by day-of-week) — the
  *    seasonality-STRENGTH scalar behind q209's weekday index and
  *    q140's anomaly flags: SS_between/SS_total in ppm from
  *    1/n-free power-sum identities (per-group truncation of the
  *    ×1e6 numerator documented and mirrored).
  */
object ExtensionQueries98 extends QueryGroup {

  // --------------------------------------------------------------- q385

  /** q385: CvM-type distance between fulfilled and open order-total
    * distributions. Scale shape: one value-grouped count shuffle, a
    * [[PrefixScan]] cumulative pass, one fold; no pair joins.
    */
  def q385_cvm_distance(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderstatus").isin("F", "O"))
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"),
        (col("o_orderstatus") === "F").as("is1"))
    val byVal = o.groupBy(col("v"))
      .agg(sum(when(col("is1"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("is1"), 1L).otherwise(0L)).as("c2"))
    val cum = PrefixScan.prefixSumsInclusive(byVal, 16,
      Seq(col("v")), Seq((col("c1"), "f1"), (col("c2"), "f2")))
    val totals = o.agg(sum(when(col("is1"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("is1"), 1L).otherwise(0L)).as("n2"))
    cum.crossJoin(broadcast(totals))
      .select(col("n1"), col("n2"), (col("c1") + col("c2")).as("cnt"),
        (col("n2") * col("f1") - col("n1") * col("f2")).as("d"))
      .groupBy(col("n1"), col("n2"))
      .agg(sum(col("cnt")).as("n_pooled"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * d * d")).as("ssd"))
      .select(col("n1"), col("n2"), col("n_pooled"),
        expr("CAST(ssd * 1000000 div (CAST(n_pooled AS DECIMAL(38,0)) * " +
          "(n1 * n2) * (n1 * n2)) AS BIGINT)").as("cvm_ppm"))
  }

  val q385Sql: String =
    """WITH o AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |    (o_orderstatus = 'F') AS is1
      |  FROM orders WHERE o_orderstatus IN ('F', 'O')
      |), byval AS (
      |  SELECT v, CAST(sum(CASE WHEN is1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN is1 THEN 0 ELSE 1 END) AS BIGINT) AS c2
      |  FROM o GROUP BY 1
      |), cum AS (
      |  SELECT c1, c2,
      |    CAST(sum(c1) OVER w AS BIGINT) AS f1, CAST(sum(c2) OVER w AS BIGINT) AS f2
      |  FROM byval WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), t AS (
      |  SELECT CAST(sum(CASE WHEN is1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN is1 THEN 0 ELSE 1 END) AS BIGINT) AS n2
      |  FROM o
      |)
      |SELECT t.n1, t.n2, CAST(sum(c1 + c2) AS BIGINT) AS n_pooled,
      |  CAST(sum(CAST(c1 + c2 AS HUGEINT) *
      |      (t.n2 * f1 - t.n1 * f2) * (t.n2 * f1 - t.n1 * f2)) * 1000000
      |    // (CAST(sum(c1 + c2) AS HUGEINT) * (t.n1 * t.n2) * (t.n1 * t.n2))
      |    AS BIGINT) AS cvm_ppm
      |FROM cum, t GROUP BY t.n1, t.n2""".stripMargin

  // --------------------------------------------------------------- q386

  /** q386: Mann–Kendall over daily revenue. S and the tie census are
    * exact; z_milli = (|S|−1)·sign·1000 div floor(sqrt(var18·1e6 div
    * 18)) · 1000 — assembled so the radicand stays < 2⁵³ (n days is
    * calendar-bounded). Scale shape: daily rollup, broadcast pair
    * join on the day frame (q374's geometry), 1-row fold.
    */
  def q386_mann_kendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev_c"))
    val sStat = daily.as("a")
      .join(broadcast(daily.as("b")), col("a.day") < col("b.day"))
      .agg(sum(signum(col("b.rev_c") - col("a.rev_c")).cast("long")).as("s_stat"))
    val n = daily.agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col("rev_c")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L)).as("tie18"))
    n.crossJoin(broadcast(sStat)).crossJoin(broadcast(ties))
      .select(col("n_days"), col("s_stat"), col("tie18"),
        expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie18").as("var18"))
      .withColumn("z_milli",
        expr("CASE WHEN s_stat = 0 THEN 0 ELSE " +
          "CAST(signum(s_stat) AS BIGINT) * (abs(s_stat) - 1) * 1000000 div " +
          "CAST(floor(sqrt(CAST(var18 * 1000000 div 18 AS DOUBLE))) AS BIGINT) END"))
      .select(col("n_days"), col("s_stat"), col("var18"), col("z_milli"))
  }

  val q386Sql: String =
    """WITH daily AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM orders GROUP BY 1
      |), s AS (
      |  SELECT CAST(sum(CASE WHEN b.rev_c > a.rev_c THEN 1
      |    WHEN b.rev_c < a.rev_c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM daily a JOIN daily b ON a.day < b.day
      |), n AS (SELECT count(*) AS n_days FROM daily),
      |ties AS (
      |  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
      |  FROM (SELECT count(*) AS t FROM daily GROUP BY rev_c)
      |), v AS (
      |  SELECT n.n_days, s.s_stat,
      |    n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - ties.tie18 AS var18
      |  FROM n, s, ties
      |)
      |SELECT n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
      |  CAST(CASE WHEN s_stat = 0 THEN 0 ELSE
      |    CAST(sign(s_stat) AS BIGINT) * (abs(s_stat) - 1) * 1000000
      |    // CAST(floor(sqrt(CAST(var18 * 1000000 // 18 AS DOUBLE))) AS BIGINT)
      |  END AS BIGINT) AS z_milli
      |FROM v""".stripMargin

  // --------------------------------------------------------------- q387

  /** q387: η² of day-of-week on daily revenue — SS_between/SS_total in
    * ppm via e_g = (n·s_g − n_g·S) div n_g ≈ n·(m_g − m): numerator
    * Σ_g n_g·e_g²·1e6, denominator n·(n·Σr² − S²). Pre-dividing keeps
    * every IntegralDivide quotient inside a LONG (q379's lesson); the
    * sub-unit truncation of e_g is mirrored exactly. Scale shape:
    * daily rollup, 7-group fold, 1-row totals broadcast.
    */
  def q387_weekday_eta2(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100").as("r"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("r")).as("s1"),
      sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("s2"))
    val groups = daily.groupBy(pmod(col("day"), lit(7L)).as("weekday"))
      .agg(count(lit(1)).as("n_g"), sum(col("r")).as("s_g"))
    // e_g = (n·s_g − n_g·S) div n_g ≈ n·(m_g − m): pre-dividing keeps
    // every IntegralDivide quotient inside a LONG (the q379 lesson);
    // SS_b·n² = Σ n_g·e_g² with sub-unit truncation, mirrored exactly
    val numer = groups.crossJoin(broadcast(tot))
      .select(expr("(n * s_g - n_g * s1) div n_g").as("e_g"), col("n_g"))
      .select(expr("CAST(n_g AS DECIMAL(38,0)) * e_g * e_g").as("contrib"))
      .agg(sum(col("contrib")).as("num"))
    tot.crossJoin(broadcast(numer))
      .select(col("n").as("n_days"),
        expr("CAST(s1 div n AS BIGINT)").as("mean_daily_dollars"),
        expr("CAST(num * 1000000 div (CAST(n AS DECIMAL(38,0)) * " +
          "(n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1)) AS BIGINT)").as("eta2_ppm"))
  }

  val q387Sql: String =
    """WITH daily AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS r
      |  FROM orders GROUP BY 1
      |), tot AS (
      |  SELECT count(*) AS n, CAST(sum(r) AS HUGEINT) AS s1,
      |    CAST(sum(CAST(r AS HUGEINT) * r) AS HUGEINT) AS s2
      |  FROM daily
      |), g AS (
      |  SELECT day % 7 AS weekday, count(*) AS n_g, CAST(sum(r) AS HUGEINT) AS s_g
      |  FROM daily GROUP BY 1
      |), numer AS (
      |  SELECT CAST(sum(g.n_g *
      |    ((tot.n * g.s_g - g.n_g * tot.s1) // g.n_g) *
      |    ((tot.n * g.s_g - g.n_g * tot.s1) // g.n_g)) AS HUGEINT) AS num
      |  FROM g, tot
      |)
      |SELECT tot.n AS n_days, CAST(tot.s1 // tot.n AS BIGINT) AS mean_daily_dollars,
      |  CAST(numer.num * 1000000 // (tot.n * (tot.n * tot.s2 - tot.s1 * tot.s1))
      |    AS BIGINT) AS eta2_ppm
      |FROM tot, numer""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q385_cvm_distance", q385_cvm_distance _, q385Sql),
    Query("q386_mann_kendall", q386_mann_kendall _, q386Sql),
    Query("q387_weekday_eta2", q387_weekday_eta2 _, q387Sql)
  )
}
