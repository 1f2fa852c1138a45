package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryBlocks.{daily, DailySql}

/** Distribution-free series diagnostics on the daily
  * event series, completing the randomness/trend family (q386 Mann–
  * Kendall, q439 Cox–Stuart, q433 runs) with the two classical tests
  * that need NO ranks at all, the correlogram behind q440's scalar, and
  * the exact small-table independence test q436's χ² approximates.
  *
  *  - q452 records test: upper/lower record counts vs the exact-null
  *    expectation E[R_n] = H_n (records are distribution-free under
  *    exchangeability; a trend inflates upper records).
  *  - q453 turning-points test: interior local extrema vs the exact
  *    2/3-per-triple null — the classical randomness check that sees
  *    oscillation structure trend tests miss.
  *  - q454 autocorrelation table (lags 1–7): q440's lag-1 scalar
  *    generalized to the correlogram, one lag-grid equi-join, per-lag
  *    exact signed r² in ppm with q440's DECIMAL(38,0) convention.
  *  - q455 Fisher exact test on the weekend × high-traffic 2×2 table:
  *    the exact hypergeometric one-sided tail via q439's overflow-free
  *    C(n,k) folds — the small-margin exact counterpart to q436's
  *    asymptotic χ².
  *
  * Scale shapes: every frame after the one events rollup is day-window-
  * bounded (30 rows at every SF — the window is fixed, SF grows events
  * per day): triangular/lag joins are 30×30 broadcasts, the Fisher tail
  * explodes ≤ min(K, n) ≤ 15 terms. Per-term truncation conventions
  * (10⁶ div i; per-lag div) stated inline.
  */
object ExtensionQueries123 extends QueryGroup {

  // -------------------------------------------------------------- q452

  /** q452: upper/lower records (strict; the first day is both, the
    * standard convention) against expected_ppm = Σ_{i=1..n} 10⁶ div i
    * (per-term truncation). Prior-day extremes come from a triangular
    * broadcast join over the bounded daily frame, never a partition-less
    * window.
    */
  def q452_records_test(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
    val flagged = d.as("a").join(broadcast(d.as("b")), col("b.day") < col("a.day"), "left")
      .groupBy(col("a.day").as("day"), col("a.n_ev").as("n_ev"))
      .agg(max(col("b.n_ev")).as("pmax"), min(col("b.n_ev")).as("pmin"))
    flagged.agg(count(lit(1)).as("n_days"),
        sum(when(col("pmax").isNull || col("n_ev") > col("pmax"), 1L).otherwise(0L))
          .as("upper_records"),
        sum(when(col("pmin").isNull || col("n_ev") < col("pmin"), 1L).otherwise(0L))
          .as("lower_records"))
      .withColumn("expected_ppm",
        expr("aggregate(sequence(1L, n_days), CAST(0 AS BIGINT), " +
          "(acc, i) -> acc + 1000000 div i)"))
  }

  val q452Sql: String =
    s"""WITH daily AS ($DailySql),
       |flagged AS (
       |  SELECT a.day, a.n_ev, max(b.n_ev) AS pmax, min(b.n_ev) AS pmin
       |  FROM daily a LEFT JOIN daily b ON b.day < a.day
       |  GROUP BY a.day, a.n_ev
       |), agg AS (
       |  SELECT count(*) AS n_days,
       |    CAST(sum(CASE WHEN pmax IS NULL OR n_ev > pmax THEN 1 ELSE 0 END)
       |      AS BIGINT) AS upper_records,
       |    CAST(sum(CASE WHEN pmin IS NULL OR n_ev < pmin THEN 1 ELSE 0 END)
       |      AS BIGINT) AS lower_records
       |  FROM flagged
       |)
       |SELECT n_days, upper_records, lower_records,
       |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), range(1, n_days + 1)),
       |    (acc, i) -> acc + 1000000 // i) AS BIGINT) AS expected_ppm
       |FROM agg""".stripMargin

  // -------------------------------------------------------------- q453

  /** q453: strict turning points over consecutive-day triples
    * (day, day+1, day+2); ties with either neighbor don't count
    * (stated). expected_milli = 2·n_triples·1000 div 3; var_milli =
    * (16·n_days − 29)·1000 div 90 (the classical length-n form —
    * exact when the day grid is gapless, as this window is).
    */
  def q453_turning_points(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
    val triples = d.as("a")
      .join(broadcast(d.as("b")), col("b.day") === col("a.day") + 1)
      .join(broadcast(d.as("c")), col("c.day") === col("a.day") + 2)
      .select(col("a.n_ev").as("x"), col("b.n_ev").as("y"), col("c.n_ev").as("z"))
    val nDays = d.agg(count(lit(1)).as("n_days"))
    triples.agg(count(lit(1)).as("n_triples"),
        sum(when((col("y") > col("x") && col("y") > col("z")) ||
          (col("y") < col("x") && col("y") < col("z")), 1L).otherwise(0L))
          .as("n_turning"))
      .crossJoin(broadcast(nDays))
      .select(col("n_days"), col("n_triples"), col("n_turning"),
        expr("2 * n_triples * 1000 div 3").as("expected_milli"),
        expr("(16 * n_days - 29) * 1000 div 90").as("var_milli"))
  }

  val q453Sql: String =
    s"""WITH daily AS ($DailySql),
       |triples AS (
       |  SELECT a.n_ev AS x, b.n_ev AS y, c.n_ev AS z
       |  FROM daily a
       |  JOIN daily b ON b.day = a.day + 1
       |  JOIN daily c ON c.day = a.day + 2
       |), nd AS (SELECT count(*) AS n_days FROM daily),
       |agg AS (
       |  SELECT count(*) AS n_triples,
       |    CAST(sum(CASE WHEN (y > x AND y > z) OR (y < x AND y < z)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
       |  FROM triples
       |)
       |SELECT nd.n_days, agg.n_triples, agg.n_turning,
       |  2 * agg.n_triples * 1000 // 3 AS expected_milli,
       |  (16 * nd.n_days - 29) * 1000 // 90 AS var_milli
       |FROM agg, nd""".stripMargin

  // -------------------------------------------------------------- q454

  /** q454: correlogram at lags 1..7 — per lag, q440's exact signed-r²
    * ppm (sign · cov² · 10⁶ div (Sxx·Syy), DECIMAL(38,0) products) over
    * the pairs (day, day+lag). ONE equi-join on (a.day + lag) against
    * the broadcast daily frame serves all seven lags.
    */
  def q454_acf_table(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
    val lags = s.range(1, 8).select(col("id").as("lag"))
    val pairs = d.as("a").crossJoin(broadcast(lags))
      .join(broadcast(d.as("b")), col("b.day") === col("a.day") + col("lag"))
      .select(col("lag"), col("a.n_ev").as("x"), col("b.n_ev").as("y"))
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(col("lag"), col("n").as("n_pairs"),
        expr("CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS BIGINT)").as("cov_num"),
        expr("CAST(CASE WHEN n * sxy - CAST(sx AS DECIMAL(38,0)) * sy < 0 THEN -1 ELSE 1 END * " +
          "(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * (n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) " +
          "* 1000000 div ((n * sxx - CAST(sx AS DECIMAL(38,0)) * sx) * " +
          "(n * syy - CAST(sy AS DECIMAL(38,0)) * sy)) AS BIGINT)").as("r2_signed_ppm"))
      .orderBy(col("lag"))
  }

  val q454Sql: String =
    s"""WITH daily AS ($DailySql),
       |pairs AS (
       |  SELECT l.lag, a.n_ev AS x, b.n_ev AS y
       |  FROM daily a
       |  CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
       |  JOIN daily b ON b.day = a.day + l.lag
       |), agg AS (
       |  SELECT lag, count(*) AS n, CAST(sum(x) AS HUGEINT) AS sx,
       |    CAST(sum(y) AS HUGEINT) AS sy,
       |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
       |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
       |  FROM pairs GROUP BY lag
       |)
       |SELECT lag, n AS n_pairs,
       |  CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
       |  CAST(CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END *
       |    (n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000
       |    // ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS BIGINT)
       |    AS r2_signed_ppm
       |FROM agg ORDER BY lag""".stripMargin

  // -------------------------------------------------------------- q455

  /** q455: one-sided Fisher exact test — are high-traffic days (daily
    * count strictly above the exact mean, n_ev·n_days > total) enriched
    * on weekends? 2×2 margins: N = n_days, K = weekend days, n = high
    * days, a = weekend∧high. p = Σ_{i=a..min(K,n)} C(K,i)·C(N−K,n−i)
    * div C(N,n), every C(·,·) an exact integer fold (q439's technique;
    * N = 30 keeps every product far inside BIGINT). dow convention:
    * (day + 4) % 7 with Sunday = 0 (epoch day 0 = Thursday = 4).
    */
  def q455_fisher_exact(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
    val tot = d.agg(count(lit(1)).as("nn"), sum(col("n_ev")).as("total"))
    val cells = d.crossJoin(broadcast(tot))
      .select(expr("(day + 4) % 7 IN (0, 6)").as("wk"),
        expr("n_ev * nn > total").as("hi"), col("nn"))
      .groupBy(col("nn"))
      .agg(sum(when(col("wk"), 1L).otherwise(0L)).as("k"),
        sum(when(col("hi"), 1L).otherwise(0L)).as("nd"),
        sum(when(col("wk") && col("hi"), 1L).otherwise(0L)).as("a"))
    val binom = (m: String, j: String) =>
      s"CASE WHEN $j = 0 THEN CAST(1 AS BIGINT) ELSE aggregate(sequence(1L, $j), " +
        s"CAST(1 AS BIGINT), (acc, t) -> acc * ($m - t + 1) div t) END"
    cells
      .select(col("nn"), col("k"), col("nd"), col("a"),
        explode(expr("sequence(a, least(k, nd))")).as("i"))
      .select(col("nn"), col("k"), col("nd"), col("a"),
        (expr(binom("k", "i")) * expr(binom("(nn - k)", "(nd - i)"))).as("term"))
      .groupBy(col("nn"), col("k"), col("nd"), col("a"))
      .agg(sum(col("term")).as("tail_num"))
      .select(col("nn").as("n_days"), col("k").as("n_weekend"),
        col("nd").as("n_high"), col("a").as("a_cell"), col("tail_num"),
        expr(s"tail_num * 1000000 div (${binom("nn", "nd")})").as("p_ppm"))
  }

  val q455Sql: String = {
    def binom(m: String, j: String): String =
      s"CASE WHEN $j = 0 THEN CAST(1 AS BIGINT) ELSE list_reduce(" +
        s"list_prepend(CAST(1 AS BIGINT), range(1, $j + 1)), " +
        s"(acc, t) -> acc * ($m - t + 1) // t) END"
    s"""WITH daily AS ($DailySql),
       |tot AS (SELECT count(*) AS nn, CAST(sum(n_ev) AS BIGINT) AS total FROM daily),
       |cells AS (
       |  SELECT tot.nn,
       |    CAST(sum(CASE WHEN (day + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS k,
       |    CAST(sum(CASE WHEN n_ev * tot.nn > tot.total THEN 1 ELSE 0 END)
       |      AS BIGINT) AS nd,
       |    CAST(sum(CASE WHEN (day + 4) % 7 IN (0, 6)
       |      AND n_ev * tot.nn > tot.total THEN 1 ELSE 0 END) AS BIGINT) AS a
       |  FROM daily, tot GROUP BY tot.nn
       |), terms AS (
       |  SELECT nn, k, nd, a, unnest(range(a, least(k, nd) + 1)) AS i
       |  FROM cells
       |), summed AS (
       |  SELECT nn, k, nd, a,
       |    CAST(sum((${binom("k", "i")}) * (${binom("(nn - k)", "(nd - i)")}))
       |      AS BIGINT) AS tail_num
       |  FROM terms GROUP BY nn, k, nd, a
       |)
       |SELECT nn AS n_days, k AS n_weekend, nd AS n_high, a AS a_cell,
       |  tail_num, tail_num * 1000000 // (${binom("nn", "nd")}) AS p_ppm
       |FROM summed""".stripMargin
  }

  val entries: Seq[Query] = Seq(
    Query("q452_records_test", q452_records_test _, q452Sql),
    Query("q453_turning_points", q453_turning_points _, q453Sql),
    Query("q454_acf_table", q454_acf_table _, q454Sql),
    Query("q455_fisher_exact", q455_fisher_exact _, q455Sql)
  )
}
