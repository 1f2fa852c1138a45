package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{CoPurchase, PrefixScan, Sessions}

/** Sequential analysis, co-occurrence recommendation,
  * and session mining — exact-integer, DuckDB-oracle-gated.
  *
  *  - q187: CUSUM change-point detection (Page 1954) — the sequential
  *    drift alarm, parallelized EXACTLY via the prefix-sum identity
  *    `S_t = P_t − min_{i≤t} P_i` (the recurrence itself is
  *    non-associative; the identity is not).
  *  - q188: item-item "also bought" top-k — the classic co-occurrence
  *    recommender table over the q74 co-purchase pairs.
  *  - q189: session co-visitation — which pages share sessions, the
  *    related-content signal, bounded by per-session page sets.
  */
object ExtensionQueries31 extends QueryGroup {

  // --------------------------------------------------------------- q187

  /** q187: CUSUM change-point detection over daily order volume. The
    * one-sided CUSUM recurrence `S_t = max(0, S_{t−1} + (x_t − k))`
    * (reference level k = 1.1× the daily mean, integer
    * `(11·total) div (10·n_days)`) looks inherently sequential — but
    * `S_t = P_t − min(0, min_{i≤t} P_i)` where `P` is the plain prefix
    * sum of `(x_t − k)`, so it scan-parallelizes exactly: one two-phase
    * prefix-sum pass for P, one two-phase prefix-max pass (of −P) for
    * the running minimum. Alarm when S_t > h = 5k (five mean days of
    * cumulated excess). Top 10 days by CUSUM value.
    *
    * Scale shape: the only order-sized pass is the day-keyed count
    * aggregate; both scans run over the DAYS frame via
    * [[graft.ops.PrefixScan]] (range partition + per-partition window +
    * broadcast per-partition offsets — never the single-reducer global
    * window the oracle spells); k and h ride as a 1-row broadcast.
    */
  def q187_cusum_changepoint(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.orders(s, dir)
      .select(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("x"))
    val ref = days.agg(
      expr("11 * sum(x) div (10 * count(1))").as("k"))
    val diffed = days.crossJoin(broadcast(ref))
      .select(col("day"), col("x"), col("k"), (col("x") - col("k")).as("d"))
    val p = PrefixScan.prefixSumsInclusive(diffed, 16, Seq(col("day")),
      Seq((col("d"), "psum")))
    val m = PrefixScan.prefixMaxExclusive(p.withColumn("np", -col("psum")),
      "premax", 16, col("np"), col("day"))
      .withColumn("runmin", -greatest(col("premax"), col("np")))
      .withColumn("cusum", col("psum") - least(lit(0L), col("runmin")))
    m.select(col("day"), col("x").as("n_orders"), col("cusum"),
        (col("cusum") > col("k") * 5).as("alarm"))
      .orderBy(col("cusum").desc, col("day"))
      .limit(10)
  }

  val q187Sql: String =
    """WITH d AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day, count(*) AS x
      |  FROM orders GROUP BY day
      |), r AS (
      |  SELECT 11 * sum(x) // (10 * count(*)) AS k FROM d
      |), p AS (
      |  SELECT day, x, k,
      |    CAST(sum(x - k) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS psum
      |  FROM d, r
      |), m AS (
      |  SELECT day, x, k, psum,
      |    CAST(min(psum) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS runmin
      |  FROM p
      |)
      |SELECT day, x AS n_orders,
      |  psum - least(0, runmin) AS cusum,
      |  psum - least(0, runmin) > k * 5 AS alarm
      |FROM m
      |ORDER BY cusum DESC, day
      |LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q188

  /** q188: "customers who bought X also bought" — for each part, the
    * top-5 co-purchased parts by the number of shared orders (ties
    * break to the smaller partner key). The classic item-item
    * co-occurrence recommender (Linden et al. 2003, Amazon item-item
    * CF) over the same order-basket pairs as the q74 co-purchase graph.
    *
    * Scale shape: pair generation fans out per order basket (bounded by
    * basket size², never |items|²); the cofrequency is a pair-keyed
    * count aggregate; keep-5 is a src-partitioned row_number window
    * (parallel across parts — Spark plans it as WindowGroupLimit, so
    * per-partition only k rows survive the sort); listing is
    * TakeOrderedAndProject. First 100 rows by (part, rank).
    */
  def q188_also_bought(s: SparkSession, dir: String): DataFrame = {
    val cofreq = CoPurchase.symmetric(
      CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 1)
        .select(col("part_a").as("part"), col("part_b").as("also"),
          col("n_co").as("n_orders_together")))
    val w = Window.partitionBy(col("part"))
      .orderBy(col("n_orders_together").desc, col("also"))
    cofreq.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("part"), col("rank"), col("also"),
        col("n_orders_together"))
      .orderBy(col("part"), col("rank"))
      .limit(100)
  }

  val q188Sql: String =
    """WITH lp AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), co AS (
      |  SELECT a.l_partkey AS part, b.l_partkey AS also,
      |    count(*) AS n_orders_together
      |  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey <> b.l_partkey
      |  GROUP BY a.l_partkey, b.l_partkey
      |), r AS (
      |  SELECT part, also, n_orders_together,
      |    row_number() OVER (PARTITION BY part
      |      ORDER BY n_orders_together DESC, also) AS rank
      |  FROM co
      |)
      |SELECT part, rank, also, n_orders_together
      |FROM r WHERE rank <= 5
      |ORDER BY part, rank
      |LIMIT 100""".stripMargin

  // --------------------------------------------------------------- q189

  /** q189: session co-visitation — page pairs (events' `props.$.k` id)
    * that appear in the SAME 30-minute session, counted once per
    * session, top 20 pairs. The related-content / "people who viewed
    * this also viewed" signal, mined from q21's gaps-and-islands
    * sessions.
    *
    * Scale shape: the island windows partition by user (q21's
    * discipline); the per-session page SET (distinct) bounds the pair
    * fan-out at set², generated by a (user, session)-co-partitioned
    * self-join — never a global page×page join; the report is a
    * pair-keyed count + TakeOrderedAndProject.
    */
  def q189_session_covisitation(s: SparkSession, dir: String): DataFrame = {
    val flagged = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        get_json_object(col("props"), "$.k").try_cast("long").as("page"),
        expr("ts div 1000").as("us"))
      .transform(Sessions.flag)
    val pages = flagged.filter(col("page").isNotNull)
      .select(col("user_id"), col("session_id"), col("page")).distinct()
    pages.as("a").join(pages.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_id") === col("b.session_id") &&
          col("a.page") < col("b.page"))
      .groupBy(col("a.page").as("page_a"), col("b.page").as("page_b"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("page_a"), col("page_b"))
      .limit(20)
  }

  val q189Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS page,
      |    epoch_us(ts) AS us,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |         > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |), g AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_id
      |  FROM f
      |), pages AS (
      |  SELECT DISTINCT user_id, session_id, page FROM g
      |  WHERE page IS NOT NULL
      |)
      |SELECT a.page AS page_a, b.page AS page_b, count(*) AS n_sessions
      |FROM pages a JOIN pages b
      |  ON a.user_id = b.user_id AND a.session_id = b.session_id
      |  AND a.page < b.page
      |GROUP BY a.page, b.page
      |ORDER BY n_sessions DESC, page_a, page_b
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q187_cusum_changepoint", q187_cusum_changepoint _, q187Sql),
    Query("q188_also_bought", q188_also_bought _, q188Sql),
    Query("q189_session_covisitation", q189_session_covisitation _, q189Sql)
  )
}
