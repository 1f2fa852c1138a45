package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan
import QueryBlocks.spendBySegment

/** Rank-based inference and sequential revenue
  * diagnostics.
  *
  *  - q407 Kruskal–Wallis H across customer segments — the k-group
  *    extension of q178's Mann–Whitney, via the ANOVA-on-midranks
  *    identity H = (N−1)·SSB/SST (tie correction built in), computed
  *    with q387's pre-divided exact-integer idiom. Midranks ride the
  *    doubled form 2m (always integer) off one PrefixScan over the
  *    distinct spend values.
  *  - q408 exact sign test on quarter-over-quarter revenue — the
  *    binomial tail enumerated exactly (no normal approximation):
  *    C(n,k) as an integer fold (each partial binomial is an integer,
  *    so the stepwise `div` is exact), p in ppm. The quarter rollup
  *    keeps n ≈ 26 at EVERY sf — constant-size inference over
  *    growing data, the exact-tier ideal.
  *  - q409 run-rate drawdown — max drawdown of the cumulative
  *    DEVIATION from the mean daily revenue (d_t = n·x_t − Σx, an
  *    integer that sums to zero): the deepest sustained
  *    underperformance stretch and its recovery day. Cumulatives ride
  *    PrefixScan (range-partitioned two-phase scan, never a
  *    partition-less window).
  */
object ExtensionQueries107 extends QueryGroup {

  // -------------------------------------------------------------- q407

  /** q407: Kruskal–Wallis H (milli) over per-customer spend by
    * segment. Midranks: 2m(v) = 2·cumcnt(v) − cnt(v) + 1 off one
    * global PrefixScan of the distinct-value counts; group rank sums
    * join per-(value, segment) counts back to the value frame. H via
    * the pre-divided SSB (e_g = (n·s_g − n_g·s1) div n_g, sub-unit
    * truncation mirrored exactly in DuckDB): h_milli = (n−1)·
    * Σn_g·e_g²·1000 div (n·(n·s2 − s1²)). Every IntegralDivide
    * quotient fits a LONG through sf1 (largest intermediate
    * ~4N⁵·1000·N ≈ 4.5e34 at sf1 — inside DECIMAL(38,0)).
    * Scale shape: distinct-value rollup + one range-partitioned scan +
    * two map-side joins; no per-pair work.
    */
  def q407_kruskal_wallis(s: SparkSession, dir: String): DataFrame = {
    val sp = spendBySegment(s, dir)
      .select(col("seg"), col("v"))
    val vals = sp.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val ranked = PrefixScan.prefixSumsInclusive(vals, 16, Seq(col("v")),
        Seq((col("cnt"), "cumc")))
      .select(col("v"), col("cnt"), (lit(2L) * col("cumc") - col("cnt") + 1L).as("r2"))
    val tot = ranked.agg(sum(col("cnt")).as("n"),
      sum(col("cnt") * col("r2")).as("s1"),
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * r2 * r2")).as("s2"),
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tie_excess"))
    val byGroup = sp.groupBy(col("v"), col("seg")).agg(count(lit(1)).as("c_vg"))
      .join(ranked.select(col("v"), col("r2")), "v")
      .groupBy(col("seg"))
      .agg(sum(col("c_vg")).as("n_g"), sum(col("c_vg") * col("r2")).as("s_g"))
    val num = byGroup.crossJoin(broadcast(tot))
      .select(expr("(n * s_g - n_g * s1) div n_g").as("e_g"), col("n_g"))
      .select(expr("CAST(n_g AS DECIMAL(38,0)) * e_g * e_g").as("contrib"))
      .agg(sum(col("contrib")).as("num"), count(lit(1)).as("k_groups"))
    tot.crossJoin(broadcast(num))
      .select(col("n").as("n_customers"), col("k_groups"),
        expr("CAST(tie_excess AS BIGINT)").as("tie_excess"),
        expr("CAST((n - 1) * num * 1000 div (CAST(n AS DECIMAL(38,0)) * " +
          "(n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1)) AS BIGINT)").as("h_milli"))
  }

  val q407Sql: String =
    """WITH sp AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY o.o_custkey, c.c_mktsegment
      |), vals AS (
      |  SELECT v, count(*) AS cnt FROM sp GROUP BY v
      |), ranked AS (
      |  SELECT v, cnt,
      |    2 * sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) - cnt + 1 AS r2
      |  FROM vals
      |), tot AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
      |    CAST(sum(cnt * r2) AS BIGINT) AS s1,
      |    CAST(sum(CAST(cnt AS HUGEINT) * r2 * r2) AS HUGEINT) AS s2,
      |    CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS HUGEINT) AS tie_excess
      |  FROM ranked
      |), bg AS (
      |  SELECT g.seg, CAST(sum(g.c_vg) AS BIGINT) AS n_g,
      |    CAST(sum(g.c_vg * r.r2) AS BIGINT) AS s_g
      |  FROM (SELECT v, seg, count(*) AS c_vg FROM sp GROUP BY v, seg) g
      |  JOIN ranked r USING (v)
      |  GROUP BY g.seg
      |), num AS (
      |  SELECT CAST(sum(CAST(bg.n_g AS HUGEINT) *
      |      ((tot.n * bg.s_g - bg.n_g * tot.s1) // bg.n_g) *
      |      ((tot.n * bg.s_g - bg.n_g * tot.s1) // bg.n_g)) AS HUGEINT) AS num,
      |    count(*) AS k_groups
      |  FROM bg, tot
      |)
      |SELECT tot.n AS n_customers, num.k_groups,
      |  CAST(tot.tie_excess AS BIGINT) AS tie_excess,
      |  CAST((tot.n - 1) * num.num * 1000 // (CAST(tot.n AS HUGEINT) *
      |    (tot.n * tot.s2 - CAST(tot.s1 AS HUGEINT) * tot.s1)) AS BIGINT)
      |    AS h_milli
      |FROM tot, num""".stripMargin

  // -------------------------------------------------------------- q408

  /** q408: exact sign test — does quarter-over-quarter revenue move up
    * as often as down? n ≈ 26 consecutive-quarter pairs (91-day
    * buckets of the order span — constant at every sf), s = upward
    * moves, ties dropped. Two-sided p enumerates the binomial tail
    * exactly: tail = Σ_{k≤min(s,n−s)} C(n,k), p_ppm =
    * min(2·tail·10⁶ div 2ⁿ, 10⁶). C(n,k) is a LONG fold — each
    * partial binomial is itself an integer, so the stepwise `div` is
    * exact (n ≤ ~30 keeps every operand far below 2⁶³).
    * Scale shape: daily rollup → ≤30-row frame; the tail enumeration
    * is O(n²) on ONE row.
    */
  def q408_sign_test(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("cents"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    val q = daily.crossJoin(broadcast(d0))
      .groupBy(expr("(day - d0) div 91").as("qtr"))
      .agg(sum(col("cents")).as("r"))
    val pairs = q.as("a").join(broadcast(q.as("b")),
        col("b.qtr") === col("a.qtr") + 1)
      .select(col("a.r").as("x"), col("b.r").as("y"))
      .filter(col("x") =!= col("y"))
    val agg = pairs.agg(count(lit(1)).as("n"),
      sum(when(col("y") > col("x"), 1L).otherwise(0L)).as("s"))
    agg.select(col("n"), col("s"), least(col("s"), col("n") - col("s")).as("m"))
      .select(col("n"), col("s"), explode(sequence(lit(0L), col("m"))).as("k"))
      .select(col("n"), col("s"),
        when(col("k") === 0, lit(1L)).otherwise(
          expr("aggregate(sequence(1L, k), CAST(1 AS BIGINT), " +
            "(acc, i) -> acc * (n - i + 1) div i)")).as("binom"))
      .groupBy(col("n"), col("s"))
      .agg(sum(col("binom")).as("tail_sum"))
      .select(col("n").as("n_pairs"), col("s").as("n_up"), col("tail_sum"),
        least(expr("2 * tail_sum * 1000000 div shiftleft(CAST(1 AS BIGINT), CAST(n AS INT))"),
          lit(1000000L)).as("p_ppm"))
  }

  val q408Sql: String =
    """WITH daily AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1
      |), d0 AS (SELECT min(day) AS d0 FROM daily),
      |q AS (
      |  SELECT (day - d0.d0) // 91 AS qtr, CAST(sum(cents) AS BIGINT) AS r
      |  FROM daily, d0 GROUP BY 1
      |), pairs AS (
      |  SELECT a.r AS x, b.r AS y FROM q a JOIN q b ON b.qtr = a.qtr + 1
      |  WHERE a.r <> b.r
      |), agg AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN y > x THEN 1 ELSE 0 END) AS BIGINT) AS s
      |  FROM pairs
      |), ks AS (
      |  SELECT n, s, unnest(range(0, least(s, n - s) + 1)) AS k FROM agg
      |), binoms AS (
      |  SELECT n, s,
      |    CASE WHEN k = 0 THEN CAST(1 AS BIGINT)
      |      ELSE list_reduce(list_prepend(CAST(1 AS BIGINT), range(1, k + 1)),
      |        (acc, i) -> acc * (n - i + 1) // i) END AS binom
      |  FROM ks
      |)
      |SELECT n AS n_pairs, s AS n_up, CAST(sum(binom) AS BIGINT) AS tail_sum,
      |  least(CAST(2 * sum(binom) * 1000000 // (CAST(1 AS BIGINT) << n)
      |    AS BIGINT), 1000000) AS p_ppm
      |FROM binoms GROUP BY n, s""".stripMargin

  // -------------------------------------------------------------- q409

  /** q409: run-rate drawdown. d_t = n·x_t − Σx (integer, zero-sum);
    * its running sum c_t measures cumulative over/under-performance
    * against the mean daily rate, and the max of peak(c) − c is the
    * deepest sustained slump (in n·dollar units; div n gives
    * dollars-vs-run-rate). Also reports the first later day the
    * series recovers its peak (−1 = never). Scale shape: daily
    * rollup + PrefixScan cumulatives + a broadcast 1-row trough
    * joined against the daily frame for the recovery probe.
    */
  def q409_drawdown(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100").as("x"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val dev = daily.crossJoin(broadcast(tot))
      .select(col("day"), col("n"), (col("n") * col("x") - col("sx")).as("d"))
    val cum = PrefixScan.prefixSumsInclusive(dev, 16, Seq(col("day")),
      Seq((col("d"), "c")))
    val withPeak = PrefixScan.prefixMaxExclusive(cum, "premax", 16,
        col("c"), col("day"))
      .withColumn("peak", greatest(coalesce(col("premax"), col("c")), col("c")))
      .withColumn("dd", col("peak") - col("c"))
    val trough = withPeak.orderBy(col("dd").desc, col("day")).limit(1)
      .select(col("day").as("trough_day"), col("peak"), col("dd"), col("n"))
    // the recovery probe is a 1-row × daily-frame non-equi join; the daily
    // frame is calendar-bounded (the order span is fixed at every sf), so
    // declare the bound (sort+limit) and broadcast it — the gate-approved
    // shape for BNLJ probes
    val cumBounded = cum.select(col("day"), col("c"))
      .orderBy(col("day")).limit(10000)
    val recovered = trough.join(broadcast(cumBounded),
        col("day") > col("trough_day") && col("c") >= col("peak"), "left")
      .groupBy(col("trough_day"), col("peak"), col("dd"), col("n"))
      .agg(min(col("day")).as("rec_day"))
    recovered.select(col("trough_day"),
      expr("dd div n").as("dd_dollars"),
      col("dd").as("dd_scaled"),
      coalesce(col("rec_day"), lit(-1L)).as("recovered_day"),
      coalesce(col("rec_day") - col("trough_day"), lit(-1L)).as("recovery_days"))
  }

  val q409Sql: String =
    """WITH daily AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS x
      |  FROM orders GROUP BY 1
      |), tot AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx FROM daily),
      |cum AS (
      |  SELECT day, tot.n,
      |    CAST(sum(tot.n * x - tot.sx) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
      |  FROM daily, tot
      |), wp AS (
      |  SELECT day, n, c,
      |    CAST(max(c) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
      |  FROM cum
      |), trough AS (
      |  SELECT day AS trough_day, peak, peak - c AS dd, n
      |  FROM wp ORDER BY dd DESC, day LIMIT 1
      |)
      |SELECT t.trough_day,
      |  CAST(t.dd // t.n AS BIGINT) AS dd_dollars,
      |  t.dd AS dd_scaled,
      |  coalesce(min(c2.day), -1) AS recovered_day,
      |  coalesce(min(c2.day) - t.trough_day, -1) AS recovery_days
      |FROM trough t LEFT JOIN cum c2
      |  ON c2.day > t.trough_day AND c2.c >= t.peak
      |GROUP BY t.trough_day, t.dd, t.n""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q407_kruskal_wallis", q407_kruskal_wallis _, q407Sql),
    Query("q408_sign_test", q408_sign_test _, q408Sql),
    Query("q409_drawdown", q409_drawdown _, q409Sql)
  )
}
