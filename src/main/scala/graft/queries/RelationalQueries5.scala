package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{FpSafe, Tables}

/** Coverage batch 5: collection/conditional aggregates and unpivot. */
object RelationalQueries5 extends QueryGroup {
  import FpSafe._

  /** q44: collection + conditional aggregates — sorted distinct collect
    * (collect_set is unordered; sorting pins it; array_join-serialized so
    * the result is a flat hashable column), count_if, bool and/or,
    * min_by/max_by with deterministic keys.
    */
  def q44_collection_aggs(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.groupBy(col("o_orderstatus"))
      .agg(
        array_join(array_sort(collect_set(col("o_orderpriority"))), ",").as("priorities"),
        count_if(col("o_totalprice") > 200000).as("n_big"),
        every(col("o_totalprice") > 0).as("all_positive"),
        some(col("o_totalprice") > 400000).as("any_huge"),
        // tie-proof scalar ordering key: exact cents * 2^35 + orderkey
        // (DuckDB min_by rejects struct keys; cents<2^26 so the composite stays
        // < 2^61 and stays tie-proof for orderkeys up to 2^35)
        min_by(col("o_orderkey"),
          cents(col("o_totalprice")) * 34359738368L + col("o_orderkey")).as("cheapest_key"),
        max_by(col("o_orderkey"),
          cents(col("o_totalprice")) * 34359738368L + col("o_orderkey")).as("priciest_key"))
      .orderBy(col("o_orderstatus"))
  }

  val q44Sql: String =
    """SELECT o_orderstatus,
      |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
      |  count(*) FILTER (o_totalprice > 200000) AS n_big,
      |  bool_and(o_totalprice > 0) AS all_positive,
      |  bool_or(o_totalprice > 400000) AS any_huge,
      |  min_by(o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) * 34359738368 + o_orderkey) AS cheapest_key,
      |  max_by(o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) * 34359738368 + o_orderkey) AS priciest_key
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q45: unpivot/melt — lineitem measures wide→long, then exact per-measure
    * rollup (the reshape primitive for metric tables).
    */
  def q45_unpivot(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.select(col("l_orderkey"),
      cents(col("l_extendedprice")).as("extendedprice"),
      tenK(col("l_discount")).as("discount"),
      tenK(col("l_tax")).as("tax"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("extendedprice"), col("discount"), col("tax")),
        "measure", "v")
      .groupBy(col("measure"))
      .agg(sum(col("v")).as("total"), count(lit(1)).as("n"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .orderBy(col("measure"))
  }

  val q45Sql: String =
    """WITH wide AS (
      |  SELECT l_orderkey,
      |    CAST(round(l_extendedprice*100) AS BIGINT) AS extendedprice,
      |    CAST(round(l_discount*10000) AS BIGINT) AS discount,
      |    CAST(round(l_tax*10000) AS BIGINT) AS tax
      |  FROM lineitem
      |), longf AS (
      |  SELECT l_orderkey, measure, v FROM wide
      |  UNPIVOT (v FOR measure IN (extendedprice, discount, tax))
      |)
      |SELECT measure, CAST(sum(v) AS BIGINT) AS total, count(*) AS n,
      |  CAST(min(v) AS BIGINT) AS vmin, CAST(max(v) AS BIGINT) AS vmax
      |FROM longf GROUP BY measure ORDER BY measure""".stripMargin

  /** q51: exact-decimal money aggregation — the DecimalType path (no FP
    * drift at any scale or partitioning): prices enter as exact cents,
    * become decimal(18,2) via exact decimal multiplication (never through
    * doubles), and sum/min/max exactly. The reference's CSV-flat world has
    * no decimals (SURVEY §1.2); a 100 TB money pipeline needs them.
    * Results leave as canonical fixed-scale STRINGS: the harness comparator
    * hashes cells through pandas, where parquet decimals surface as Decimal
    * objects but DuckDB decimals may surface as float64 — the same
    * cross-representation trap that made q44's arrays red in round 1.
    */
  def q51_decimal_money(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val p = (cents(col("l_extendedprice")).cast("decimal(18,0)") *
      lit(new java.math.BigDecimal("0.01"))).cast("decimal(18,2)")
    li.select(col("l_returnflag"), p.as("p"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("p")).cast("decimal(38,2)").cast("string").as("sum_price"),
        min(col("p")).cast("decimal(18,2)").cast("string").as("min_price"),
        max(col("p")).cast("decimal(18,2)").cast("string").as("max_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  val q51Sql: String =
    """WITH t AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(CAST(round(l_extendedprice*100) AS BIGINT) AS DECIMAL(18,0))
      |         * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(18,2)) AS p
      |  FROM lineitem
      |)
      |SELECT l_returnflag,
      |  CAST(CAST(sum(p) AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
      |  CAST(CAST(min(p) AS DECIMAL(18,2)) AS VARCHAR) AS min_price,
      |  CAST(CAST(max(p) AS DECIMAL(18,2)) AS VARCHAR) AS max_price,
      |  count(*) AS n
      |FROM t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q60: CUBE over (event_type, user bucket) — the grouping-sets family
    * beyond q20's ROLLUP: all four grouping combinations in one pass (Spark
    * plans it as a single Expand + aggregate — no four-scan union).
    * grouping_id disambiguates "null as value" from "null as total"; both
    * engines put the first cube column in the most significant bit
    * (mirrored as GROUPING(a)*2 + GROUPING(b)). Sort pinned NULLS FIRST on
    * both sides — DuckDB defaults NULLS LAST.
    */
  def q60_cube(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.select(col("event_type"), (col("user_id") % 10).as("bucket"),
        round(col("value") * 100).cast("long").as("vc"))
      .cube(col("event_type"), col("bucket"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        (sum(col("vc")) / 100.0).as("sum_value"))
      .select(col("gid"), col("event_type"), col("bucket"), col("n"), col("sum_value"))
      .orderBy(col("gid"), col("event_type").asc_nulls_first, col("bucket").asc_nulls_first)
  }

  val q60Sql: String =
    """WITH e AS (
      |  SELECT event_type, user_id % 10 AS bucket,
      |    CAST(round(value*100) AS BIGINT) AS vc
      |  FROM events
      |)
      |SELECT CAST(GROUPING(event_type)*2 + GROUPING(bucket) AS BIGINT) AS gid,
      |  event_type, bucket, count(*) AS n,
      |  CAST(sum(vc) AS BIGINT) / 100.0 AS sum_value
      |FROM e GROUP BY CUBE (event_type, bucket)
      |ORDER BY gid, event_type ASC NULLS FIRST, bucket ASC NULLS FIRST""".stripMargin

  /** q61: exact quartile binning WITHOUT floating-point interpolation — the
    * quality-binning step of a data pipeline. Interpolating quantiles
    * (percentile/quantile_cont) are NOT cross-engine bit-stable —
    * (1-f)·a+f·b vs a+(b-a)·f round differently; order statistics (value at
    * rank ceil(q·n)) are integers and cannot disagree.
    *
    * Shaped for scale as a two-level distributed prefix sum: the distinct-
    * value histogram (one shuffle, map-side combine) cumsums WITHIN $10k
    * buckets in parallel (window partitioned by bucket), while the ~110
    * bucket totals — bounded by the price domain, not the corpus — carry
    * the cross-bucket offsets through a tiny bounded window. A single
    * global cumsum over the near-unique cents histogram would be the
    * one-partition funnel this repo bans. Thresholds then ride back as a
    * 1-row broadcast to bin the full table.
    */
  def q61_quantile_bins(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir)
    val c = li.select(cents(col("l_extendedprice")).as("cents"))
    val hist = c.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
      .withColumn("b", expr("cents div 1000000"))
    val wIn = Window.partitionBy(col("b")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bucketTotals = hist.groupBy(col("b")).agg(sum(col("cnt")).as("bt"))
    val wOff = graft.ops.Ranks.bounded(col("b"), col("b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTotals
      .withColumn("off", coalesce(sum(col("bt")).over(wOff), lit(0L)))
      .select(col("b"), col("off"))
    val nRow = c.agg(count(lit(1)).as("n"))
    val thr = hist.withColumn("cum_in", sum(col("cnt")).over(wIn))
      .join(broadcast(offsets), Seq("b"))
      .withColumn("cum", col("cum_in") + col("off"))
      .crossJoin(broadcast(nRow))
      .agg(
        min(when(col("cum") >= expr("(n+3) div 4"), col("cents"))).as("t1"),
        min(when(col("cum") >= expr("(n+1) div 2"), col("cents"))).as("t2"),
        min(when(col("cum") >= expr("(3*n+3) div 4"), col("cents"))).as("t3"))
    c.crossJoin(broadcast(thr))
      .withColumn("bin",
        when(col("cents") <= col("t1"), "q1")
          .when(col("cents") <= col("t2"), "q2")
          .when(col("cents") <= col("t3"), "q3").otherwise("q4"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .orderBy(col("bin"))
  }

  val q61Sql: String =
    """WITH c AS (
      |  SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS cents FROM lineitem
      |), hist AS (
      |  SELECT cents, count(*) AS cnt, cents // 1000000 AS b FROM c GROUP BY cents
      |), offs AS (
      |  SELECT b, coalesce(sum(bt) OVER (ORDER BY b
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM (SELECT b, sum(cnt) AS bt FROM hist GROUP BY b)
      |), cumh AS (
      |  SELECT cents, sum(cnt) OVER (PARTITION BY hist.b ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + off AS cum
      |  FROM hist JOIN offs ON hist.b = offs.b
      |), nn AS (SELECT count(*) AS n FROM c
      |), thr AS (
      |  SELECT
      |    min(CASE WHEN cum >= (n+3)//4 THEN cents END) AS t1,
      |    min(CASE WHEN cum >= (n+1)//2 THEN cents END) AS t2,
      |    min(CASE WHEN cum >= (3*n+3)//4 THEN cents END) AS t3
      |  FROM cumh, nn
      |), b AS (
      |  SELECT CASE WHEN cents <= t1 THEN 'q1' WHEN cents <= t2 THEN 'q2'
      |              WHEN cents <= t3 THEN 'q3' ELSE 'q4' END AS bin, cents
      |  FROM c, thr
      |)
      |SELECT bin, count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  min(cents) AS min_cents, max(cents) AS max_cents
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q94

  /** q94: explicit GROUPING SETS — the irregular-rollup member of the
    * grouping family (q20 rollup, q60 cube): exactly the three levels a
    * report wants — (flag, status), (flag), and grand total — with
    * `grouping_id` disambiguating a real NULL key from a superaggregate
    * row. One scan: Spark expands grouping sets in a single Expand +
    * aggregate, same as rollup/cube.
    */
  def q94_grouping_sets(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_rows"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  val q94Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n_rows,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q95

  /** q95: 2D Pareto front (skyline) — "no other part is both cheaper AND
    * larger": the classic dominance query, whose naive form is an O(n²)
    * self-join and whose textbook form (sort + global running max) is a
    * single-reducer window. [[graft.ops.Skyline.front2D]] runs the
    * scalable spelling: range-partition by price, per-partition running
    * maxima in parallel, and a ≤nPartitions driver prefix-fold carrying
    * the best size across partitions — dominance is resolved per
    * candidate against running aggregates, never a pair join and never a
    * partition-less window. Exact integer cents/size keep the
    * comparisons engine-identical; the oracle spells the same semantics
    * with DuckDB's global RANGE window (fine single-node).
    */
  def q95_pareto_front(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select(
      col("p_partkey"),
      round(col("p_retailprice") * 100).cast("long").as("price_cents"),
      col("p_size").cast("long").as("size"))
    graft.ops.Skyline.front2D(p, col("price_cents"), col("size"))
      .select(col("p_partkey"), col("price_cents"), col("size"))
      .orderBy(col("price_cents"), col("size").desc, col("p_partkey"))
  }

  val q95Sql: String =
    """SELECT p_partkey, price_cents, size FROM (
      |  SELECT p_partkey,
      |    CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
      |    CAST(p_size AS BIGINT) AS size,
      |    max(CAST(p_size AS BIGINT)) OVER (
      |      ORDER BY CAST(round(p_retailprice * 100) AS BIGINT)
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_cheaper
      |  FROM part
      |)
      |WHERE best_cheaper IS NULL OR size > best_cheaper
      |ORDER BY price_cents, size DESC, p_partkey""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q44_collection_aggs", q44_collection_aggs _, q44Sql),
    Query("q45_unpivot", q45_unpivot _, q45Sql),
    Query("q51_decimal_money", q51_decimal_money _, q51Sql),
    Query("q60_cube", q60_cube _, q60Sql),
    Query("q61_quantile_bins", q61_quantile_bins _, q61Sql),
    Query("q94_grouping_sets", q94_grouping_sets _, q94Sql),
    Query("q95_pareto_front", q95_pareto_front _, q95Sql)
  )
}
