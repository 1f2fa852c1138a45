package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Ranks

/** Round-13 batch 8: the PIVOT clause, calendar completeness, and
  * exact distribution shape.
  *
  *  - q376 native SQL PIVOT clause (Spark 4) — the wide counterpart to
  *    q365's UNPIVOT and the clause form of q35's DataFrame pivot.
  *    DuckDB mirrors with its own PIVOT … USING … GROUP BY.
  *  - q377 calendar-gap audit — which days in the order-date span saw
  *    ZERO orders, and the longest such outage run (gaps-and-islands
  *    over the generated calendar anti-joined to the data). The
  *    completeness complement to q77 (fills known gaps) and q216
  *    (backfill lateness): this one finds the holes.
  *  - q378 exact skewness/kurtosis — the third and fourth standardized
  *    moments from raw integer power sums (P2 = nΣx²−(Σx)², P3, P4
  *    identities clear every 1/n): kurt = P4/P2² is a pure integer
  *    ratio; skewness divides by P2·floor(sqrt(P2)). Native
  *    skewness()/kurtosis() aggregates use Welford-style FP state
  *    (partial-order dependent — not cross-engine hashable); power
  *    sums of scaled integers are exact in DECIMAL(38,0).
  */
object ExtensionQueries95 extends QueryGroup {

  // --------------------------------------------------------------- q376

  /** q376: returnflag × linestatus counts through the SQL PIVOT
    * clause. Scale shape: PIVOT is a grouped conditional aggregation —
    * one map-combined shuffle on the GROUP BY key.
    */
  def q376_sql_pivot(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""SELECT * FROM (
         |  SELECT l_returnflag, l_linestatus,
         |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
         |  FROM parquet.`$dir/lineitem.parquet`
         |) PIVOT (
         |  count(*) AS n, sum(qty_c) AS qty
         |  FOR l_linestatus IN ('F' AS f, 'O' AS o)
         |)
         |ORDER BY l_returnflag""".stripMargin)

  val q376Sql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_n,
      |  CAST(sum(CASE WHEN l_linestatus = 'F'
      |    THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS BIGINT) AS f_qty,
      |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_n,
      |  CAST(sum(CASE WHEN l_linestatus = 'O'
      |    THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS BIGINT) AS o_qty
      |FROM lineitem
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q377

  /** q377: days with zero orders inside [min, max] of the order-date
    * span, and the longest outage. Scale shape: the calendar generates
    * from the 1-row min/max aggregate (span-bounded, not row-bounded);
    * the anti-join keys on the day; the islands window rides
    * [[Ranks.bounded]] because missing days are calendar-bounded.
    */
  def q377_calendar_gaps(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.orders(s, dir)
      .select(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .distinct()
    val span = days.agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
      count(lit(1)).as("n_present"))
    val calendar = span.select(col("d0"), col("d1"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .select(col("day"))
    val missing = calendar.join(days, Seq("day"), "left_anti")
    val runs = missing
      .withColumn("rn", row_number().over(
        Ranks.bounded(col("day"), col("day"))).cast("long"))
      .groupBy((col("day") - col("rn")).as("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("gap_start"))
    val longest = runs.orderBy(col("len").desc, col("gap_start")).limit(1)
      .select(col("len").as("longest_gap_days"),
        col("gap_start").as("longest_gap_start_day"))
    val nMissing = missing.agg(count(lit(1)).as("n_missing"))
    span.select((col("d1") - col("d0") + 1).as("span_days"), col("n_present"))
      .crossJoin(broadcast(nMissing))
      .crossJoin(broadcast(longest))
  }

  val q377Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT CAST(datediff('day', DATE '1970-01-01',
      |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day
      |  FROM orders
      |), span AS (
      |  SELECT min(day) AS d0, max(day) AS d1, count(*) AS n_present FROM days
      |), missing AS (
      |  SELECT c.day FROM span, unnest(range(span.d0, span.d1 + 1)) AS c(day)
      |  WHERE c.day NOT IN (SELECT day FROM days)
      |), runs AS (
      |  SELECT day - row_number() OVER (ORDER BY day) AS island,
      |    day FROM missing
      |), agg AS (
      |  SELECT island, count(*) AS len, min(day) AS gap_start
      |  FROM runs GROUP BY 1
      |), longest AS (
      |  SELECT CAST(len AS BIGINT) AS longest_gap_days,
      |    gap_start AS longest_gap_start_day
      |  FROM agg ORDER BY len DESC, gap_start LIMIT 1
      |)
      |SELECT span.d1 - span.d0 + 1 AS span_days, span.n_present,
      |  (SELECT count(*) FROM missing) AS n_missing,
      |  longest.longest_gap_days, longest.longest_gap_start_day
      |FROM span, longest""".stripMargin

  // --------------------------------------------------------------- q378

  /** q378: per order priority — exact distribution shape of the order
    * value in coarse units (cents div 10000 ≈ hundreds of dollars, so
    * Σx⁴·n³ fits DECIMAL(38,0); documented coarsening). The 1/n-free
    * power-sum identities give kurt_milli = 1000·P4 div P2² exactly;
    * skewness needs P2^1.5, so its denominator takes floor(sqrt(P2))
    * (exact while P2 < 2⁵³ — holds through sf0.1; beyond, coarsen x
    * further). Native skewness()/kurtosis() aggregates are Welford FP
    * state — partial-order dependent, not cross-engine hashable.
    * Scale shape: one map-combined power-sum shuffle.
    */
  def q378_moments(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT) div 10000").as("x"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("s1"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("s2"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x * x")).as("s3"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x * x * x")).as("s4"))
      .select(col("o_orderpriority"), col("n"),
        expr("CAST(s1 div n AS BIGINT)").as("mean_coarse"),
        expr("CAST(n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1 AS DECIMAL(38,0))").as("p2"),
        expr("CAST(n AS DECIMAL(38,0)) * n * s3 - 3 * n * s1 * s2 " +
          "+ 2 * CAST(s1 AS DECIMAL(38,0)) * s1 * s1").as("p3"),
        expr("CAST(n AS DECIMAL(38,0)) * n * n * s4 - 4 * CAST(n AS DECIMAL(38,0)) * n * s1 * s3 " +
          "+ 6 * CAST(n AS DECIMAL(38,0)) * s1 * s1 * s2 " +
          "- 3 * CAST(s1 AS DECIMAL(38,0)) * s1 * s1 * s1").as("p4"))
      .select(col("o_orderpriority"), col("n"), col("mean_coarse"),
        expr("CAST(1000 * p4 div (p2 * p2) AS BIGINT)").as("kurt_milli"),
        expr("CAST(1000 * p3 div (p2 * CAST(floor(sqrt(CAST(p2 AS DOUBLE))) " +
          "AS DECIMAL(38,0))) AS BIGINT)").as("skew_milli"))
      .orderBy(col("o_orderpriority"))

  val q378Sql: String =
    """WITH base AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS HUGEINT) AS x
      |  FROM orders
      |), sums AS (
      |  SELECT o_orderpriority, count(*) AS n,
      |    sum(x) AS s1, sum(x * x) AS s2, sum(x * x * x) AS s3,
      |    sum(x * x * x * x) AS s4
      |  FROM base GROUP BY 1
      |), p AS (
      |  SELECT o_orderpriority, n,
      |    CAST(s1 // n AS BIGINT) AS mean_coarse,
      |    n * s2 - s1 * s1 AS p2,
      |    n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS p3,
      |    n * n * n * s4 - 4 * n * n * s1 * s3 + 6 * n * s1 * s1 * s2
      |      - 3 * s1 * s1 * s1 * s1 AS p4
      |  FROM sums
      |)
      |SELECT o_orderpriority, n, mean_coarse,
      |  CAST(1000 * p4 // (p2 * p2) AS BIGINT) AS kurt_milli,
      |  CAST(1000 * p3 // (p2 * CAST(floor(sqrt(CAST(p2 AS DOUBLE)))
      |    AS HUGEINT)) AS BIGINT) AS skew_milli
      |FROM p ORDER BY o_orderpriority""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q376_sql_pivot", q376_sql_pivot _, q376Sql),
    Query("q377_calendar_gaps", q377_calendar_gaps _, q377Sql),
    Query("q378_moments", q378_moments _, q378Sql)
  )
}
