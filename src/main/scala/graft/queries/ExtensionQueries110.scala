package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan
import QueryBlocks.spendBySegment

/** Robust location, ordered-trend testing, and
  * rank-agreement closers.
  *
  *  - q416 winsorized mean — q272's trimmed mean DROPS the tails;
  *    winsorizing CLAMPS them to the exact p05/p95 data values
  *    (percentile_disc), the robust-location convention that keeps n
  *    constant. Mean in exact milli-dollars.
  *  - q417 Page's trend test — the ordered-alternative rank test
  *    (is yearly revenue monotonically trending within every
  *    segment?): L = Σ j·R_j over segment blocks with years ranked by
  *    revenue inside each block. L is a pure integer; the squared
  *    standardized statistic rides the ×4 trick (4·E[L] = b·k·(k+1)²
  *    is always integer) so z²_milli is exact.
  *  - q418 Spearman footrule — Σ|rank_by_revenue − rank_by_quantity|
  *    over parts: the L1 rank-agreement distance complementing q198
  *    (Spearman ρ) and q356 (Kendall τ); normalized against the
  *    permutation maximum ⌊k²/2⌋ in exact ppm. Global ranks ride
  *    PrefixScan (range-partitioned cumulative counts), never a
  *    partition-less window.
  */
object ExtensionQueries110 extends QueryGroup {

  // -------------------------------------------------------------- q416

  /** q416: per-segment winsorized mean of customer spend at
    * [p05, p95]. Scale shape: one quartile pass + one broadcast-joined
    * clamp-and-sum pass.
    */
  def q416_winsorized_mean(s: SparkSession, dir: String): DataFrame = {
    val sp = spendBySegment(s, dir)
      .select(col("seg"), col("v"))
    val bounds = sp.groupBy(col("seg"))
      .agg(expr("CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("p05"),
        expr("CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("p95"))
    sp.join(broadcast(bounds), "seg")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("p05")).as("p05"), min(col("p95")).as("p95"),
        sum(when(col("v") < col("p05"), 1L).otherwise(0L)).as("n_clamped_low"),
        sum(when(col("v") > col("p95"), 1L).otherwise(0L)).as("n_clamped_high"),
        sum(greatest(least(col("v"), col("p95")), col("p05"))).as("wsum"),
        sum(col("v")).as("rsum"))
      .select(col("seg"), col("n_customers"), col("p05"), col("p95"),
        col("n_clamped_low"), col("n_clamped_high"),
        expr("wsum * 1000 div n_customers").as("winsorized_mean_milli"),
        expr("rsum * 1000 div n_customers").as("raw_mean_milli"))
      .orderBy(col("seg"))
  }

  val q416Sql: String =
    """WITH sp AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY o.o_custkey, c.c_mktsegment
      |), b AS (
      |  SELECT seg, quantile_disc(v, 0.05) AS p05, quantile_disc(v, 0.95) AS p95
      |  FROM sp GROUP BY seg
      |)
      |SELECT sp.seg, count(*) AS n_customers,
      |  min(b.p05) AS p05, min(b.p95) AS p95,
      |  CAST(sum(CASE WHEN sp.v < b.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
      |  CAST(sum(CASE WHEN sp.v > b.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high,
      |  CAST(sum(greatest(least(sp.v, b.p95), b.p05)) AS BIGINT) * 1000 // count(*)
      |    AS winsorized_mean_milli,
      |  CAST(sum(sp.v) AS BIGINT) * 1000 // count(*) AS raw_mean_milli
      |FROM sp JOIN b USING (seg)
      |GROUP BY sp.seg ORDER BY sp.seg""".stripMargin

  // -------------------------------------------------------------- q417

  /** q417: Page's L over segment blocks × span-year treatments.
    * Missing (segment, year) cells read zero revenue (the full grid
    * is materialized; zero cells rank lowest, year-tiebroken — a
    * pinned total order). z²_milli = (4L − b·k·(k+1)²)²·9000 div
    * (b·k²·(k+1)·(k²−1)) — the ×4/×9 scalings keep E[L] and 16·Var[L]
    * integral. Scale shape: a (segments × years) grid — category
    * constants — with one partitioned window; the daily data folds
    * in one groupBy.
    */
  def q417_page_trend(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("day"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val d0 = o.agg(min(col("day")).as("d0"))
    val cells = o.crossJoin(broadcast(d0))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"), expr("(day - d0) div 365").as("year"))
      .agg(sum(col("cents")).as("rev"))
    val segs = cells.select(col("seg")).distinct()
    val years = cells.select(col("year")).distinct()
    val grid = segs.crossJoin(broadcast(years))
      .join(cells, Seq("seg", "year"), "left")
      .select(col("seg"), col("year"), coalesce(col("rev"), lit(0L)).as("rev"))
    import org.apache.spark.sql.expressions.Window
    val ranked = grid.withColumn("rk",
      row_number().over(Window.partitionBy(col("seg"))
        .orderBy(col("rev"), col("year"))))
    ranked.agg(countDistinct(col("seg")).as("b"),
        countDistinct(col("year")).as("k"),
        sum((col("year") + 1) * col("rk")).as("l_stat"))
      .select(col("b").as("b_blocks"), col("k").as("k_treatments"),
        col("l_stat"),
        expr("(4 * l_stat - b * k * (k + 1) * (k + 1)) * " +
          "(4 * l_stat - b * k * (k + 1) * (k + 1)) * 9000 div " +
          "(b * k * k * (k + 1) * (k * k - 1))").as("z2_milli"))
  }

  val q417Sql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), d0 AS (SELECT min(day) AS d0 FROM o),
      |cells AS (
      |  SELECT c.c_mktsegment AS seg, (o.day - d0.d0) // 365 AS year,
      |    CAST(sum(o.cents) AS BIGINT) AS rev
      |  FROM o JOIN customer c ON o.o_custkey = c.c_custkey CROSS JOIN d0
      |  GROUP BY 1, 2
      |), grid AS (
      |  SELECT s.seg, y.year, coalesce(c.rev, 0) AS rev
      |  FROM (SELECT DISTINCT seg FROM cells) s
      |  CROSS JOIN (SELECT DISTINCT year FROM cells) y
      |  LEFT JOIN cells c ON c.seg = s.seg AND c.year = y.year
      |), ranked AS (
      |  SELECT seg, year,
      |    row_number() OVER (PARTITION BY seg ORDER BY rev, year) AS rk
      |  FROM grid
      |), agg AS (
      |  SELECT count(DISTINCT seg) AS b, count(DISTINCT year) AS k,
      |    CAST(sum((year + 1) * rk) AS BIGINT) AS l_stat
      |  FROM ranked
      |)
      |SELECT b AS b_blocks, k AS k_treatments, l_stat,
      |  (4 * l_stat - b * k * (k + 1) * (k + 1)) *
      |  (4 * l_stat - b * k * (k + 1) * (k + 1)) * 9000 //
      |  (b * k * k * (k + 1) * (k * k - 1)) AS z2_milli
      |FROM agg""".stripMargin

  // -------------------------------------------------------------- q418

  /** q418: Spearman footrule between the revenue ranking and the
    * quantity ranking of parts. Ranks are global row_numbers
    * (value, partkey tiebreak — a pinned total order) via PrefixScan
    * cumulative counts; D = Σ|r_rev − r_qty|, normalized by the
    * permutation maximum ⌊k²/2⌋ in ppm. Scale shape: two
    * range-partitioned scans + one equi-join on partkey.
    */
  def q418_spearman_footrule(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT))").as("rev"),
        expr("sum(CAST(l_quantity AS BIGINT))").as("qty"))
    val byRev = PrefixScan.prefixSumsInclusive(parts, 16,
        Seq(col("rev"), col("l_partkey")), Seq((lit(1L), "r_rev")))
      .select(col("l_partkey"), col("r_rev"))
    val byQty = PrefixScan.prefixSumsInclusive(parts, 16,
        Seq(col("qty"), col("l_partkey")), Seq((lit(1L), "r_qty")))
      .select(col("l_partkey").as("pk2"), col("r_qty"))
    byRev.join(byQty, col("l_partkey") === col("pk2"))
      .agg(count(lit(1)).as("k"),
        sum(abs(col("r_rev") - col("r_qty"))).as("d_sum"))
      .select(col("k").as("n_parts"), col("d_sum"),
        expr("d_sum * 1000000 div ((k * k) div 2)").as("footrule_ppm"))
  }

  val q418Sql: String =
    """WITH parts AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY l_partkey
      |), r AS (
      |  SELECT l_partkey,
      |    row_number() OVER (ORDER BY rev, l_partkey) AS r_rev,
      |    row_number() OVER (ORDER BY qty, l_partkey) AS r_qty
      |  FROM parts
      |)
      |SELECT count(*) AS n_parts,
      |  CAST(sum(abs(r_rev - r_qty)) AS BIGINT) AS d_sum,
      |  CAST(sum(abs(r_rev - r_qty)) AS BIGINT) * 1000000
      |    // ((count(*) * count(*)) // 2) AS footrule_ppm
      |FROM r""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q416_winsorized_mean", q416_winsorized_mean _, q416Sql),
    Query("q417_page_trend", q417_page_trend _, q417Sql),
    Query("q418_spearman_footrule", q418_spearman_footrule _, q418Sql)
  )
}
