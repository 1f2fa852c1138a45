package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.PrefixScan

/** Round-9 batch 43: pricing levers, credit screening, and ordering
  * effects — exact-integer, DuckDB-oracle-gated.
  *
  *  - q258: discount-band effectiveness table.
  *  - q259: credit-risk screen — negative balances with heavy spend.
  *  - q260: line-position effects — does item value drift along the
  *    order?
  */
object ExtensionQueries55 extends QueryGroup {

  // --------------------------------------------------------------- q258

  /** q258: discount-band effectiveness — lines bucketed by discount
    * percentage (0, 1-5, 6-10), each band's line count, units moved,
    * gross revenue cents, and the exact discount given back in cents
    * (`round(price·disc·100)` per line — the money the lever costs).
    * Whether deeper discounts actually move more units per line is
    * read straight off the units/lines ratio in ppm.
    *
    * Scale shape: one lineitem pass; discount cents computed per line
    * in the projection (the established cents discipline); ≤3-row
    * rollup.
    */
  def q258_discount_bands(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select(
        expr("CAST(round(l_discount * 100) AS LONG)").as("disc_pct"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        round(col("l_extendedprice") * col("l_discount") * 100)
          .cast("long").as("disc_cents"))
    l.select(
        when(col("disc_pct") === 0, lit(0L))
          .when(col("disc_pct") <= 5, lit(1L)).otherwise(lit(2L))
          .as("band"),
        col("qty"), col("cents"), col("disc_cents"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_lines"), sum(col("qty")).as("units"),
        sum(col("cents")).as("gross_cents"),
        sum(col("disc_cents")).as("discount_cents"))
      .select(col("band"), col("n_lines"), col("units"),
        col("gross_cents"), col("discount_cents"),
        expr("units * 1000000 div n_lines").as("units_per_line_ppm"))
      .orderBy(col("band"))
  }

  val q258Sql: String =
    """WITH l AS (
      |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
      |    CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)
      |      AS disc_cents
      |  FROM lineitem
      |)
      |SELECT CAST(CASE WHEN disc_pct = 0 THEN 0
      |    WHEN disc_pct <= 5 THEN 1 ELSE 2 END AS BIGINT) AS band,
      |  count(*) AS n_lines, CAST(sum(qty) AS BIGINT) AS units,
      |  CAST(sum(cents) AS BIGINT) AS gross_cents,
      |  CAST(sum(disc_cents) AS BIGINT) AS discount_cents,
      |  CAST(sum(qty) * 1000000 // count(*) AS BIGINT)
      |    AS units_per_line_ppm
      |FROM l
      |GROUP BY band
      |ORDER BY band""".stripMargin

  // --------------------------------------------------------------- q259

  /** q259: credit-risk screen — customers whose account balance is
    * NEGATIVE while their order spend sits above the corpus median
    * spend: the classic exposure list (buying heavily on a drained
    * account). Reports the flagged customers (top 20 by spend) with
    * balance, spend, and how far above the median they sit in ppm.
    *
    * Scale shape: per-customer spend is one orders fold; the median
    * spend comes from the two-phase prefix scan over the spend-keyed
    * count frame (q183's discipline); the screen is a filter +
    * TakeOrderedAndProject.
    */
  def q259_credit_screen(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("spend"))
    val counts = spend.groupBy(col("spend")).agg(count(lit(1)).as("cnt"))
    val total = spend.agg(count(lit(1)).as("n"))
    val med = PrefixScan.prefixSumsInclusive(counts, 16, Seq(col("spend")),
        Seq((col("cnt"), "cum")))
      .crossJoin(broadcast(total))
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("spend")))
        .as("med_spend"))
    spend.join(Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents")),
        "o_custkey")
      .crossJoin(broadcast(med))
      .filter(col("bal_cents") < 0 && col("spend") > col("med_spend"))
      .select(col("o_custkey").as("custkey"), col("bal_cents"),
        col("spend").as("spend_cents"),
        expr("spend * 1000000 div med_spend").as("vs_median_ppm"))
      .orderBy(col("spend_cents").desc, col("custkey"))
      .limit(20)
  }

  val q259Sql: String =
    """WITH sp AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS spend
      |  FROM orders GROUP BY o_custkey
      |), t AS (SELECT count(*) AS n FROM sp
      |), med AS (
      |  SELECT min(spend) AS med_spend FROM (
      |    SELECT spend,
      |      CAST(sum(count(*)) OVER (ORDER BY spend
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |        AS cum
      |    FROM sp GROUP BY spend
      |  ), t WHERE cum >= (n + 1) // 2
      |)
      |SELECT o_custkey AS custkey,
      |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
      |  spend AS spend_cents,
      |  CAST(spend * 1000000 // med_spend AS BIGINT) AS vs_median_ppm
      |FROM sp
      |JOIN customer ON o_custkey = c_custkey, med
      |WHERE CAST(round(c_acctbal * 100) AS BIGINT) < 0
      |  AND spend > med_spend
      |ORDER BY spend_cents DESC, custkey
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q260

  /** q260: line-position effects — per line number (1-7), the exact
    * mean line value in cents and its ratio to position 1 in ppm: do
    * later-added lines carry systematically cheaper items? A clean
    * generator shows flat ratios; real baskets usually decay — either
    * way the table answers it exactly.
    *
    * Scale shape: one lineitem pass → position-keyed sums; the
    * position-1 mean rides a 1-row broadcast.
    */
  def q260_position_effects(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select(col("l_linenumber").cast("long").as("pos"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val perPos = l.groupBy(col("pos"))
      .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("cents"))
      .withColumn("mean_cents", expr("cents div n_lines"))
    val first = perPos.filter(col("pos") === 1)
      .select(col("mean_cents").as("first_mean"))
    perPos.crossJoin(broadcast(first))
      .select(col("pos"), col("n_lines"), col("mean_cents"),
        expr("mean_cents * 1000000 div first_mean").as("vs_first_ppm"))
      .orderBy(col("pos"))
  }

  val q260Sql: String =
    """WITH p AS (
      |  SELECT CAST(l_linenumber AS BIGINT) AS pos, count(*) AS n_lines,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM lineitem GROUP BY pos
      |), m AS (
      |  SELECT pos, n_lines, cents // n_lines AS mean_cents FROM p
      |), f AS (
      |  SELECT mean_cents AS first_mean FROM m WHERE pos = 1
      |)
      |SELECT pos, n_lines, mean_cents,
      |  CAST(mean_cents * 1000000 // first_mean AS BIGINT) AS vs_first_ppm
      |FROM m, f
      |ORDER BY pos""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q258_discount_bands", q258_discount_bands _, q258Sql),
    Query("q259_credit_screen", q259_credit_screen _, q259Sql),
    Query("q260_position_effects", q260_position_effects _, q260Sql)
  )
}
