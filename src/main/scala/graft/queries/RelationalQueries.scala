package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{FpSafe, PandasCompat, Tables}

/** Reference-parity relational operators re-expressed over the TPC-H-ish
  * testdata (see SURVEY.md §2 for the operator inventory; each query cites the
  * reference operator rows it covers).
  *
  * Design rules (100 TB posture, SURVEY.md §4.4):
  *  - declarative DataFrame plans only — Catalyst handles pushdown/pruning;
  *  - no driver-side collects on the data path;
  *  - global scalars (totals/medians) via agg + broadcast cross-join, never a
  *    single-partition global window;
  *  - money aggregates via [[FpSafe]] exact long cents (bit-reproducible
  *    across engines AND across partitionings — at extreme row counts these
  *    would be upgraded to DecimalType(38,4) sums, which Spark vectorizes).
  */
object RelationalQueries extends QueryGroup {
  import FpSafe._

  /** q01: grouped aggregation suite — SURVEY §2 E1 (sums), F6 (ratio
    * derivations), plus filter pushdown. TPC-H Q1-shaped pricing summary.
    * Covers: sum of integral doubles, exact money sums, avg, count.
    * Reference: `etl_merge.py:672-675` (group sums), `:695` (ratio).
    */
  def q01_pricing_summary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        intSum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        // sum(extprice * (1-discount)) as exact cents×basis-points
        (sum(cents(col("l_extendedprice")) * (lit(10000L) - tenK(col("l_discount")))) / 1000000.0)
          .as("sum_disc_price"),
        avg(col("l_quantity")).as("avg_qty"),
        ((sum(cents(col("l_extendedprice"))) / 100.0) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (10000 - CAST(round(l_discount*10000) AS BIGINT))) AS BIGINT) / 1000000.0 AS sum_disc_price,
      |  avg(l_quantity) AS avg_qty,
      |  (CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) / 100.0) / count(*) AS avg_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q02: the reference's GSC per-URL rollup (SURVEY §2 E1+E2+E3) — sums,
    * impressions-weighted mean with neutral weight 1.0 for zero/null weights,
    * and a null-guarded ratio recompute. `etl_merge.py:658-696` re-expressed
    * as ONE aggregation pass (the reference's extra self-join `:694` was an
    * implementation artifact, folded away here).
    * Mapping: url→l_suppkey, clicks→l_quantity, impressions→l_tax*100
    * (has zeros → exercises the neutral-weight branch), position→l_extendedprice.
    */
  def q02_weighted_rollup(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val imp = round(col("l_tax") * 100).cast("long")
    val w = when(imp > 0, imp).otherwise(lit(1L))
    val posC = cents(col("l_extendedprice"))
    val g = li
      .select(col("l_suppkey"), col("l_quantity"), imp.as("imp"), w.as("w"),
        (posC * w).as("pos_x_w"))
      .groupBy(col("l_suppkey"))
      .agg(
        intSum(col("l_quantity")).as("clicks"),
        sum(col("imp")).as("impressions"),
        sum(col("pos_x_w")).as("pxw"),
        sum(col("w")).as("wsum"))
    g.select(
      col("l_suppkey"),
      col("clicks"),
      col("impressions"),
      when(col("wsum") > 0, (col("pxw") / 100.0) / col("wsum")).as("position"),
      (col("clicks") / when(col("impressions") === 0, lit(null)).otherwise(col("impressions")))
        .as("ctr"))
      .orderBy(col("l_suppkey"))
  }

  val q02Sql: String =
    """WITH proj AS (
      |  SELECT l_suppkey,
      |    CAST(round(l_quantity) AS BIGINT) AS clicks_i,
      |    CAST(round(l_tax*100) AS BIGINT) AS imp,
      |    CASE WHEN CAST(round(l_tax*100) AS BIGINT) > 0
      |         THEN CAST(round(l_tax*100) AS BIGINT) ELSE 1 END AS w,
      |    CAST(round(l_extendedprice*100) AS BIGINT) AS pos_c
      |  FROM lineitem
      |), g AS (
      |  SELECT l_suppkey,
      |    CAST(sum(clicks_i) AS BIGINT) AS clicks,
      |    CAST(sum(imp) AS BIGINT) AS impressions,
      |    CAST(sum(pos_c * w) AS BIGINT) AS pxw,
      |    CAST(sum(w) AS BIGINT) AS wsum
      |  FROM proj GROUP BY l_suppkey
      |)
      |SELECT l_suppkey, clicks, impressions,
      |  CASE WHEN wsum > 0 THEN (pxw / 100.0) / wsum END AS position,
      |  clicks / nullif(impressions, 0) AS ctr
      |FROM g ORDER BY l_suppkey""".stripMargin

  /** q03: sum-all-numerics aggregation (SURVEY §2 E4 — the GA4 rollup,
    * `etl_merge.py:698-710`) with pandas all-null-group→0.0 compat
    * (PandasCompat.sumZero). Key: o_custkey over orders.
    */
  def q03_sum_all_numerics(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.groupBy(col("o_custkey"))
      .agg(
        coalesce(moneySum(col("o_totalprice")), lit(0.0)).as("users"),
        count(lit(1)).as("sessions"))
      .orderBy(col("o_custkey"))
  }

  val q03Sql: String =
    """SELECT o_custkey,
      |  coalesce(CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) / 100.0, 0.0) AS users,
      |  count(*) AS sessions
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** q04: global-total share (SURVEY §2 E5+F7+H3 — click_share,
    * `etl_merge.py:785-787`). 100 TB note: computed as a 1-row aggregate
    * broadcast-crossed into the fact table — NOT a partition-less window,
    * which would funnel the whole table through one task.
    */
  def q04_click_share(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val total = o.agg(sum(cents(col("o_totalprice"))).as("total_cents"))
    o.select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
      .crossJoin(broadcast(total))
      .select(
        col("o_orderkey"),
        when(col("total_cents") === 0, lit(0.0))
          .otherwise(col("price_cents") / col("total_cents")).as("click_share"))
      .orderBy(col("o_orderkey"))
  }

  val q04Sql: String =
    """WITH t AS (SELECT CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents FROM orders)
      |SELECT o_orderkey,
      |  CASE WHEN total_cents = 0 THEN 0.0
      |       ELSE CAST(round(o_totalprice*100) AS BIGINT) / total_cents END AS click_share
      |FROM orders, t ORDER BY o_orderkey""".stripMargin

  /** q05: keep-first dedup (SURVEY §2 D1, `etl_merge.py:761`). pandas
    * drop_duplicates keeps first file-order row; Spark's dropDuplicates picks
    * an arbitrary row, so we pin "first" with an explicit deterministic order
    * (l_linenumber within l_orderkey) via row_number — the engine's canonical
    * keep-first idiom (SURVEY §4.3).
    */
  def q05_dedup_keep_first(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // l_linenumber alone is not unique in the synthetic corpus; the full
    // (linenumber, partkey, suppkey) key is — pinned for determinism.
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    li.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
      .orderBy(col("l_orderkey"))
  }

  val q05Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
      |        ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
      |      FROM lineitem)
      |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin

  /** q06: 3-way left join on a deduplicated spine (SURVEY §2 G1,
    * `etl_merge.py:774-777`): orders spine ⟕ lineitem-rollup ⟕ customer.
    * 257 spine orders have no lineitems → exercises the null side; metrics
    * coalesced to 0 per pandas compat. customer is broadcast (small dim);
    * the lineitem rollup pre-aggregates BEFORE the join — a semantic
    * requirement of the reference (1:1 join, no fan-out) that is also the
    * right scale posture (shrinks the shuffle).
    */
  def q06_spine_join3(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val liAgg = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(intSum(col("l_quantity")).as("qty"),
        moneySum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_items"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    o.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .join(liAgg, col("o_orderkey") === col("l_orderkey"), "left")
      .join(broadcast(c), col("o_custkey") === col("c_custkey"), "left")
      .select(
        col("o_orderkey"), col("o_totalprice"),
        coalesce(col("qty"), lit(0L)).as("qty"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"),
        coalesce(col("n_items"), lit(0L)).as("n_items"),
        col("c_mktsegment"))
      .orderBy(col("o_orderkey"))
  }

  val q06Sql: String =
    """WITH li AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
      |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
      |    count(*) AS n_items
      |  FROM lineitem GROUP BY l_orderkey
      |)
      |SELECT o_orderkey, o_totalprice,
      |  coalesce(li.qty, 0) AS qty,
      |  coalesce(li.revenue, 0.0) AS revenue,
      |  coalesce(li.n_items, 0) AS n_items,
      |  c_mktsegment
      |FROM orders
      |LEFT JOIN li ON o_orderkey = li.l_orderkey
      |LEFT JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** q07: sort + dense sequential rank with deterministic tiebreak
    * (SURVEY §2 H1+H2, `etl_merge.py:966-967`; tiebreaker per §4.3) and
    * top-k limit. 100 TB note: a global-window row_number would move the
    * whole table into ONE partition; instead sort+limit compiles to
    * TakeOrderedAndProject (per-partition top-k, tiny merge on one task),
    * and the rank window then runs over only k rows.
    */
  def q07_rank_topk(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val topk = o.select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
    val w = graft.ops.Ranks.bounded(col("o_orderkey"),
      col("o_totalprice").desc, col("o_orderkey"))
    topk.withColumn("priority_rank", row_number().over(w).cast("int"))
      .orderBy(col("priority_rank"))
  }

  val q07Sql: String =
    """SELECT o_orderkey, o_totalprice,
      |  CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS priority_rank
      |FROM orders
      |QUALIFY priority_rank <= 100
      |ORDER BY priority_rank""".stripMargin

  /** q08: group medians (SURVEY §2 E6 — the expected-CTR fallback median,
    * `etl_merge.py:794,916`). Exact interpolated percentile (NOT
    * percentile_approx — pinned in SURVEY §2 E6: approx does not match the
    * pandas/DuckDB interpolated median).
    */
  def q08_group_median(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_discount"), lit(0.5)).as("median_discount"),
        percentile(col("l_quantity"), lit(0.5)).as("median_qty"))
      .orderBy(col("l_returnflag"))
  }

  val q08Sql: String =
    """SELECT l_returnflag,
      |  median(l_discount) AS median_discount,
      |  median(l_quantity) AS median_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q09: mode via count-desc + deterministic tiebreak (SURVEY §2 E7,
    * `etl_merge.py:960`): most frequent o_orderpriority per o_orderstatus.
    */
  def q09_group_mode(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val counts = o.groupBy(col("o_orderstatus"), col("o_orderpriority")).count()
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("count").desc, col("o_orderpriority"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("top_priority"), col("count").as("n"))
      .orderBy(col("o_orderstatus"))
  }

  val q09Sql: String =
    """SELECT o_orderstatus, o_orderpriority AS top_priority, n
      |FROM (
      |  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |                       ORDER BY count(*) DESC, o_orderpriority) AS rn
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
      |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin

  /** q10: predicate/filter suite (SURVEY §2 C1-C3+C6): string prefix
    * filters, junk-marker anti-filter, null/empty checks — the reference's
    * row filters (`etl_merge.py:165-172`, `:645-646`, `:1006-1010`) over
    * the documents table.
    */
  def q10_filters(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.filter(col("source").startsWith("src"))
      .filter(!lower(trim(col("lang"))).isin("(not set)", "(other)", "other", "not set"))
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"), col("source"))
  }

  val q10Sql: String =
    """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE starts_with(source, 'src')
      |  AND lower(trim(lang)) NOT IN ('(not set)', '(other)', 'other', 'not set')
      |  AND text IS NOT NULL AND length(trim(text)) > 0
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q01_pricing_summary", q01_pricing_summary _, q01Sql),
    Query("q02_weighted_rollup", q02_weighted_rollup _, q02Sql),
    Query("q03_sum_all_numerics", q03_sum_all_numerics _, q03Sql),
    Query("q04_click_share", q04_click_share _, q04Sql),
    Query("q05_dedup_keep_first", q05_dedup_keep_first _, q05Sql),
    Query("q06_spine_join3", q06_spine_join3 _, q06Sql),
    Query("q07_rank_topk", q07_rank_topk _, q07Sql),
    Query("q08_group_median", q08_group_median _, q08Sql),
    Query("q09_group_mode", q09_group_mode _, q09Sql),
    Query("q10_filters", q10_filters _, q10Sql)
  )
}
