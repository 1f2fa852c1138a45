package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{PrefixScan, Ranks}

/** Round-13 batch 13: randomness, ordered-set aggregates, and temporal
  * texture.
  *
  *  - q391 Wald–Wolfowitz runs test on daily revenue vs its median —
  *    the RANDOMNESS complement to q386 (Mann–Kendall asks "does it
  *    trend", runs asks "does it alternate like noise"); run count
  *    from a calendar-bounded lag, z in milli with the variance
  *    assembled so the floor(sqrt) radicand stays < 2⁵³.
  *  - q392 ordered-set aggregates `percentile_disc(...) WITHIN GROUP`
  *    (Spark 3.4+/4 surface) over order→ship lead times — DISC picks
  *    an actual data value (no interpolation), which is what makes it
  *    cross-engine hashable where percentile_cont's FP interpolation
  *    is not; DuckDB mirrors with quantile_disc (same smallest-value-
  *    with-CDF≥q definition, probed).
  *  - q393 per-user burstiness B = (σ−μ)/(σ+μ) of event interarrivals
  *    (Goh & Barabási 2008) in minute units — +1 ⇒ bursty, 0 ⇒
  *    Poisson-like, −1 ⇒ periodic. σ from the exact variance numerator
  *    under floor(sqrt); the minute coarsening keeps the radicand
  *    < 2⁵³ (documented).
  */
object ExtensionQueries100 extends QueryGroup {

  // --------------------------------------------------------------- q391

  /** q391: runs above/below the daily-revenue median (ties with the
    * median excluded, the standard treatment). Scale shape: daily
    * rollup, PrefixScan median pick, one calendar-bounded lag window,
    * 1-row fold.
    */
  def q391_runs_test(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev_c"))
    val counts = daily.groupBy(col("rev_c")).agg(count(lit(1)).as("c"))
    val cum = PrefixScan.prefixSumsInclusive(counts, 16,
      Seq(col("rev_c")), Seq((col("c"), "cc")))
    val nTot = daily.agg(count(lit(1)).as("n_all"))
    val med = cum.crossJoin(broadcast(nTot))
      .agg(min(when(col("cc") >= expr("(n_all + 1) div 2"), col("rev_c")))
        .as("median_c"))
    val signed = daily.crossJoin(broadcast(med))
      .filter(col("rev_c") =!= col("median_c"))
      .select(col("day"), (col("rev_c") > col("median_c")).as("above"))
    val runs = signed
      .withColumn("prev", lag(col("above"), 1).over(
        Ranks.bounded(col("day"), col("day"))))
      .agg(count(lit(1)).as("n"),
        sum(when(col("above"), 1L).otherwise(0L)).as("n1"),
        (sum(when(col("prev").isNull || col("prev") =!= col("above"), 1L)
          .otherwise(0L))).as("r_runs"))
    runs.select(col("n"), col("n1"), (col("n") - col("n1")).as("n2"), col("r_runs"))
      .withColumn("a", expr("n1 * n2"))
      .withColumn("b", expr("2 * a * (2 * a - n)"))
      .withColumn("z_milli",
        expr("(r_runs * n - n - 2 * a) * 1000000 div " +
          "CAST(floor(sqrt(CAST(b * 1000000 div (n - 1) AS DOUBLE))) AS BIGINT)"))
      .select(col("n"), col("n1"), col("n2"), col("r_runs"), col("z_milli"))
  }

  val q391Sql: String =
    """WITH daily AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM orders GROUP BY 1
      |), med AS (
      |  SELECT quantile_disc(rev_c, 0.5) AS median_c FROM daily
      |), signed AS (
      |  SELECT day, (rev_c > med.median_c) AS above
      |  FROM daily, med WHERE rev_c <> med.median_c
      |), lagged AS (
      |  SELECT above, lag(above) OVER (ORDER BY day) AS prev FROM signed
      |), agg AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN prev IS NULL OR prev <> above THEN 1 ELSE 0 END)
      |      AS BIGINT) AS r_runs
      |  FROM lagged
      |), v AS (
      |  SELECT n, n1, n - n1 AS n2, r_runs, n1 * (n - n1) AS a FROM agg
      |)
      |SELECT n, n1, n2, r_runs,
      |  CAST((r_runs * n - n - 2 * a) * 1000000 //
      |    CAST(floor(sqrt(CAST(2 * a * (2 * a - n) * 1000000 // (n - 1)
      |      AS DOUBLE))) AS BIGINT) AS BIGINT) AS z_milli
      |FROM v""".stripMargin

  // --------------------------------------------------------------- q392

  /** q392: per order priority — exact discrete percentiles (p25/p50/
    * p90) and the milli mean of the order→ship lead time in days,
    * through the ordered-set `percentile_disc ... WITHIN GROUP`
    * surface. Scale shape: the lineitem→orders equi-join shuffles on
    * the order key (or broadcasts the smaller side at test SF); one
    * 5-group rollup above it.
    */
  def q392_leadtime_percentile_disc(s: SparkSession, dir: String): DataFrame = {
    val lead = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("ship_day"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("order_day")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"), (col("ship_day") - col("order_day")).as("lead_days"))
    lead.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY lead_days)")
          .cast("long").as("p25_days"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lead_days)")
          .cast("long").as("p50_days"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lead_days)")
          .cast("long").as("p90_days"),
        expr("sum(lead_days) * 1000 div count(1)").as("mean_days_milli"))
      .orderBy(col("o_orderpriority"))
  }

  val q392Sql: String =
    """WITH lead AS (
      |  SELECT o.o_orderpriority,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
      |      - datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
      |      AS BIGINT) AS lead_days
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |)
      |SELECT o_orderpriority, count(*) AS n,
      |  CAST(quantile_disc(lead_days, 0.25) AS BIGINT) AS p25_days,
      |  CAST(quantile_disc(lead_days, 0.5) AS BIGINT) AS p50_days,
      |  CAST(quantile_disc(lead_days, 0.9) AS BIGINT) AS p90_days,
      |  CAST(sum(lead_days) * 1000 // count(*) AS BIGINT) AS mean_days_milli
      |FROM lead GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- q393

  /** q393: per user (≥ 3 events): interarrival count, mean and σ in
    * minutes, burstiness B·1000. σ = floor(sqrt(k·Σd² − (Σd)²)) div k
    * (population σ over the k gaps); minute units keep k·Σd² < 2⁵³
    * for month-scale histories (documented: second units would pass
    * 2⁵³ at ≈ 40 gaps of a month each). Scale shape: gaps via a
    * per-user lag window (state partitions by user), one rollup.
    */
  def q393_burstiness(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 60000000000").as("t_min"),
        col("event_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("t_min"), col("event_id"))
    val gaps = ev.withColumn("prev", lag(col("t_min"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), (col("t_min") - col("prev")).as("d"))
    gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("k"), sum(col("d")).as("s1"),
        sum(col("d") * col("d")).as("s2"))
      .filter(col("k") >= 2)
      .select(col("user_id"), col("k"),
        expr("s1 * 1000 div k").as("mean_gap_min_milli"),
        expr("CAST(floor(sqrt(CAST((k * s2 - s1 * s1) * 1000000 div (k * k) " +
          "AS DOUBLE))) AS BIGINT)").as("sigma_gap_min_milli"))
      .withColumn("burstiness_milli",
        expr("CASE WHEN sigma_gap_min_milli + mean_gap_min_milli = 0 THEN 0 ELSE " +
          "(sigma_gap_min_milli - mean_gap_min_milli) * 1000 div " +
          "(sigma_gap_min_milli + mean_gap_min_milli) END"))
      .orderBy(col("user_id"))
  }

  val q393Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 60000000 AS t_min, event_id FROM events
      |), gaps AS (
      |  SELECT user_id,
      |    t_min - lag(t_min) OVER (PARTITION BY user_id ORDER BY t_min, event_id) AS d
      |  FROM ev
      |), agg AS (
      |  SELECT user_id, count(*) AS k,
      |    CAST(sum(d) AS BIGINT) AS s1, CAST(sum(d * d) AS BIGINT) AS s2
      |  FROM gaps WHERE d IS NOT NULL GROUP BY 1 HAVING count(*) >= 2
      |), m AS (
      |  SELECT user_id, k,
      |    CAST(s1 * 1000 // k AS BIGINT) AS mean_gap_min_milli,
      |    CAST(floor(sqrt(CAST((k * s2 - s1 * s1) * 1000000 // (k * k) AS DOUBLE)))
      |      AS BIGINT) AS sigma_gap_min_milli
      |  FROM agg
      |)
      |SELECT user_id, k, mean_gap_min_milli, sigma_gap_min_milli,
      |  CAST(CASE WHEN sigma_gap_min_milli + mean_gap_min_milli = 0 THEN 0 ELSE
      |    (sigma_gap_min_milli - mean_gap_min_milli) * 1000 //
      |    (sigma_gap_min_milli + mean_gap_min_milli) END AS BIGINT)
      |    AS burstiness_milli
      |FROM m ORDER BY user_id""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q391_runs_test", q391_runs_test _, q391Sql),
    Query("q392_leadtime_percentile_disc", q392_leadtime_percentile_disc _, q392Sql),
    Query("q393_burstiness", q393_burstiness _, q393Sql)
  )
}
