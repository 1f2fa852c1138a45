package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-13 batch 4: forensic statistics + two Spark surfaces.
  *
  *  - q364 Benford first-digit test over order totals (in cents) —
  *    the classic fraud/forensics screen. Expected frequencies are the
  *    PINNED micro literals round(1e6·log₁₀(1+1/d)) (the q355 discount
  *    convention — never per-row FP logs) and the χ² terms stay exact
  *    through DECIMAL(38,0). Synthetic totals are uniform-ish, so the
  *    statistic must flag a huge deviation — the spec pins that
  *    direction.
  *  - q365 native SQL UNPIVOT clause (Spark 4 syntax) — the
  *    wide-to-long surface q45 does through `stack()`; the clause form
  *    name-checks measures and is the ANSI-adjacent spelling users
  *    migrate to. DuckDB mirrors with its own UNPIVOT.
  *  - q366 `Dataset.observe` — pipeline-monitoring metrics collected
  *    ON the stream of rows as they flow (no second scan), the Spark
  *    observability surface. The observation node is pass-through, so
  *    the query result stays oracle-checkable; the metric values
  *    (scan-level row count / cents total BEFORE the filter) are
  *    pinned in the spec via `queryExecution.observedMetrics`.
  */
object ExtensionQueries91 extends QueryGroup {

  // --------------------------------------------------------------- q364

  /** round(1e6·log₁₀(1 + 1/d)) for d = 1..9; sums to exactly 1e6. */
  private val benfordMicro =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L, 51153L, 45757L)

  /** q364: per first digit d of the order total (cents): observed
    * count, Benford-expected count (µ), and the exact χ² term
    * (o·1e6 − e_µ)² div e_µ — micro-χ² units. Scale shape: the digit
    * extraction is a scan-side expression, one 9-group map-combined
    * shuffle, and a broadcast of the 1-row total.
    */
  def q364_benford(s: SparkSession, dir: String): DataFrame = {
    val arr = benfordMicro.mkString("array(", "L,", "L)")
    val digits = Tables.orders(s, dir)
      .select(expr("CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) " +
        "AS STRING), 1, 1) AS BIGINT)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("observed"))
    val total = digits.agg(sum(col("observed")).as("n"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("observed"),
        (col("n") * element_at(expr(arr), col("digit").cast("int")))
          .as("expected_micro"))
      .withColumn("chi2_term_micro",
        expr("CAST(CAST(observed * 1000000 - expected_micro AS DECIMAL(38,0)) * " +
          "(observed * 1000000 - expected_micro) div expected_micro AS BIGINT)"))
      .orderBy(col("digit"))
  }

  val q364Sql: String = {
    val lit = benfordMicro.mkString("[", ",", "]")
    s"""WITH d AS (
       |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
       |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM orders
       |), o AS (SELECT digit, count(*) AS observed FROM d GROUP BY 1),
       |t AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM o)
       |SELECT digit, observed,
       |  CAST(t.n * ($lit)[digit] AS BIGINT) AS expected_micro,
       |  CAST(CAST(observed * 1000000 - t.n * ($lit)[digit] AS HUGEINT) *
       |       (observed * 1000000 - t.n * ($lit)[digit])
       |    // (t.n * ($lit)[digit]) AS BIGINT) AS chi2_term_micro
       |FROM o, t ORDER BY digit""".stripMargin
  }

  // --------------------------------------------------------------- q365

  /** q365: the SQL UNPIVOT clause over a per-flag aggregate — three
    * BIGINT measures fold to (metric, val) rows. Scale shape: UNPIVOT
    * is a projection (Expand) over the 3-row aggregate; the only
    * shuffle is the aggregation's.
    */
  def q365_sql_unpivot(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""SELECT l_returnflag, metric, val FROM (
         |  SELECT l_returnflag,
         |    sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c,
         |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_c,
         |    count(*) AS n_rows
         |  FROM parquet.`$dir/lineitem.parquet`
         |  GROUP BY l_returnflag
         |) UNPIVOT (val FOR metric IN (qty_c, price_c, n_rows))
         |ORDER BY l_returnflag, metric""".stripMargin)

  val q365Sql: String =
    """WITH agg AS (
      |  SELECT l_returnflag,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_c,
      |    count(*) AS n_rows
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, metric, val
      |FROM (UNPIVOT agg ON qty_c, price_c, n_rows INTO NAME metric VALUE val)
      |ORDER BY l_returnflag, metric""".stripMargin

  // --------------------------------------------------------------- q366

  /** q366: fulfilled-order rollup with an observation point on the
    * scan — `observe` runs its aggregates over the flowing rows (one
    * pass, no extra scan or shuffle; metrics surface via
    * queryExecution.observedMetrics / QueryExecutionListener, pinned
    * in the spec). The RESULT is the downstream rollup.
    */
  def q366_observed_metrics(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .observe("q366_scan",
        count(lit(1)).as("scan_rows"),
        sum(col("cents")).as("scan_cents"))
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .orderBy(col("o_orderpriority"))

  val q366Sql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q364_benford", q364_benford _, q364Sql),
    Query("q365_sql_unpivot", q365_sql_unpivot _, q365Sql),
    Query("q366_observed_metrics", q366_observed_metrics _, q366Sql)
  )
}
