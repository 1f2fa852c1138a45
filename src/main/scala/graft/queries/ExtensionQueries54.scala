package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 42: temporal integrity, returns analytics, and CBO
  * column-correlation statistics — exact-integer, DuckDB-oracle-gated.
  *
  *  - q255: temporal sanity — cross-table date-order constraints.
  *  - q256: return-rate hotspots per part.
  *  - q257: NDV interaction factor — how far column pairs sit from
  *    statistical independence.
  */
object ExtensionQueries54 extends QueryGroup {

  // --------------------------------------------------------------- q255

  /** q255: temporal sanity audit — the cross-table constraint "a line
    * never ships before its order is placed": violation count, the
    * worst violation in days, and the violation rate in ppm; plus the
    * within-table constraint "ship dates fall inside the table's
    * observed order-date span plus 1 year" as a second row. Clean data
    * certifies zeros — dirty data names the feed. The temporal member
    * of the constraint family (q89 value constraints, q172 FK
    * orphans).
    *
    * Scale shape: the join is key-partitioned on orderkey with the
    * violation predicate in the projection; each audit is one fold.
    */
  def q255_temporal_sanity(s: SparkSession, dir: String): DataFrame = {
    val j = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(datediff(col("l_shipdate").cast("date"),
        col("o_orderdate").cast("date")).cast("long").as("lag_days"))
    val shipBeforeOrder = j.agg(count(lit(1)).as("n"),
        sum(when(col("lag_days") < 0, 1L).otherwise(0L)).as("viol"),
        min(col("lag_days")).as("worst"))
      .select(lit("ship_before_order").as("constraint_name"), col("n"),
        col("viol"),
        least(col("worst"), lit(0L)).as("worst_days"),
        expr("viol * 1000000 div n").as("viol_ppm"))
    val shipTooLate = j.agg(count(lit(1)).as("n"),
        sum(when(col("lag_days") > 365, 1L).otherwise(0L)).as("viol"),
        max(col("lag_days")).as("worst"))
      .select(lit("ship_over_1y_late").as("constraint_name"), col("n"),
        col("viol"),
        greatest(col("worst") - 365, lit(0L)).as("worst_days"),
        expr("viol * 1000000 div n").as("viol_ppm"))
    shipBeforeOrder.unionByName(shipTooLate).orderBy(col("constraint_name"))
  }

  val q255Sql: String =
    """WITH j AS (
      |  SELECT CAST(datediff('day', CAST(o_orderdate AS DATE),
      |    CAST(l_shipdate AS DATE)) AS BIGINT) AS lag_days
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |)
      |SELECT 'ship_before_order' AS constraint_name, count(*) AS n,
      |  CAST(sum(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS viol,
      |  least(CAST(min(lag_days) AS BIGINT), 0) AS worst_days,
      |  CAST(sum(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS viol_ppm
      |FROM j
      |UNION ALL
      |SELECT 'ship_over_1y_late', count(*),
      |  CAST(sum(CASE WHEN lag_days > 365 THEN 1 ELSE 0 END) AS BIGINT),
      |  greatest(CAST(max(lag_days) AS BIGINT) - 365, 0),
      |  CAST(sum(CASE WHEN lag_days > 365 THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT)
      |FROM j
      |ORDER BY constraint_name""".stripMargin

  // --------------------------------------------------------------- q256

  /** q256: return-rate hotspots — per part with ≥ 10 lines, the share
    * of lines carrying returnflag 'R' in exact ppm and the returned
    * revenue; top 20 by return rate (ties to smaller part). The retail
    * quality alarm: a part whose return rate towers over the corpus
    * base rate (carried alongside) is a listing or defect problem.
    *
    * Scale shape: one lineitem pass → part-keyed conditional sums; the
    * base rate is a 1-row broadcast; TakeOrderedAndProject.
    */
  def q256_return_rates(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val base = l.agg(sum(col("ret")).as("tr"), count(lit(1)).as("tn"))
    l.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("ret")).as("n_returned"),
        sum(when(col("ret") === 1, col("cents")).otherwise(0L))
          .as("returned_cents"))
      .filter(col("n_lines") >= 10)
      .crossJoin(broadcast(base))
      .select(col("l_partkey"), col("n_lines"), col("n_returned"),
        col("returned_cents"),
        expr("n_returned * 1000000 div n_lines").as("return_ppm"),
        expr("tr * 1000000 div tn").as("base_ppm"))
      .orderBy(col("return_ppm").desc, col("l_partkey"))
      .limit(20)
  }

  val q256Sql: String =
    """WITH l AS (
      |  SELECT l_partkey,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem
      |), b AS (
      |  SELECT CAST(sum(ret) AS BIGINT) AS tr, count(*) AS tn FROM l
      |), p AS (
      |  SELECT l_partkey, count(*) AS n_lines,
      |    CAST(sum(ret) AS BIGINT) AS n_returned,
      |    CAST(sum(CASE WHEN ret = 1 THEN cents ELSE 0 END) AS BIGINT)
      |      AS returned_cents
      |  FROM l GROUP BY l_partkey
      |  HAVING count(*) >= 10
      |)
      |SELECT l_partkey, n_lines, n_returned, returned_cents,
      |  CAST(n_returned * 1000000 // n_lines AS BIGINT) AS return_ppm,
      |  CAST(tr * 1000000 // tn AS BIGINT) AS base_ppm
      |FROM p, b
      |ORDER BY return_ppm DESC, l_partkey
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q257

  /** q257: NDV interaction factor — for three column pairs, how the
    * joint distinct count compares to the independence prediction:
    * `factor_ppm = ndv(a,b)·10⁶ div least(ndv(a)·ndv(b), n_rows)`
    * (the denominator capped at the row count, since NDV can never
    * exceed it). 10⁶ means the columns fill the independence budget;
    * small factors mean correlation — exactly the statistic a CBO
    * multiplies into multi-predicate selectivity (q202 calibrates one
    * filter; this calibrates their CONJUNCTION).
    *
    * Scale shape: each pair is two single-column and one two-column
    * count-distinct aggregates over column-pruned scans; the report
    * unions three 1-row folds.
    */
  def q257_ndv_interaction(s: SparkSession, dir: String): DataFrame = {
    def pair(df: DataFrame, a: String, b: String): DataFrame =
      df.agg(count(lit(1)).as("n"),
        countDistinct(col(a)).as("nda"),
        countDistinct(col(b)).as("ndb"),
        countDistinct(col(a), col(b)).as("ndab"))
        .select(lit(s"$a,$b").as("pair"), col("n"), col("nda"), col("ndb"),
          col("ndab"),
          expr("ndab * 1000000 div least(nda * ndb, n)").as("factor_ppm"))
    pair(Tables.orders(s, dir), "o_orderpriority", "o_orderstatus")
      .unionByName(pair(Tables.customer(s, dir), "c_mktsegment",
        "c_nationkey"))
      .unionByName(pair(Tables.lineitem(s, dir), "l_returnflag",
        "l_linestatus"))
      .orderBy(col("pair"))
  }

  val q257Sql: String =
    """SELECT 'c_mktsegment,c_nationkey' AS pair, count(*) AS n,
      |  count(DISTINCT c_mktsegment) AS nda,
      |  count(DISTINCT c_nationkey) AS ndb,
      |  count(DISTINCT (c_mktsegment, c_nationkey)) AS ndab,
      |  CAST(count(DISTINCT (c_mktsegment, c_nationkey)) * 1000000
      |    // least(count(DISTINCT c_mktsegment)
      |      * count(DISTINCT c_nationkey), count(*)) AS BIGINT)
      |    AS factor_ppm
      |FROM customer
      |UNION ALL
      |SELECT 'l_returnflag,l_linestatus', count(*),
      |  count(DISTINCT l_returnflag), count(DISTINCT l_linestatus),
      |  count(DISTINCT (l_returnflag, l_linestatus)),
      |  CAST(count(DISTINCT (l_returnflag, l_linestatus)) * 1000000
      |    // least(count(DISTINCT l_returnflag)
      |      * count(DISTINCT l_linestatus), count(*)) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'o_orderpriority,o_orderstatus', count(*),
      |  count(DISTINCT o_orderpriority), count(DISTINCT o_orderstatus),
      |  count(DISTINCT (o_orderpriority, o_orderstatus)),
      |  CAST(count(DISTINCT (o_orderpriority, o_orderstatus)) * 1000000
      |    // least(count(DISTINCT o_orderpriority)
      |      * count(DISTINCT o_orderstatus), count(*)) AS BIGINT)
      |FROM orders
      |ORDER BY pair""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q255_temporal_sanity", q255_temporal_sanity _, q255Sql),
    Query("q256_return_rates", q256_return_rates _, q256Sql),
    Query("q257_ndv_interaction", q257_ndv_interaction _, q257Sql)
  )
}
