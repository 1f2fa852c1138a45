package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Sessions

/** Materialized-view algebra, mergeable exact
  * distincts, and dwell analytics — exact-integer, DuckDB-oracle-gated.
  *
  *  - q190: incremental JOIN-view maintenance by the delta algebra —
  *    the engine-infra primitive behind every warehouse MV refresh.
  *  - q191: daily→weekly bitmap-distinct reaggregation — EXACT distinct
  *    counts that merge like sketches (pre-aggregate once, roll up
  *    forever, never rescan raw).
  *  - q192: per-page dwell time from session islands — the engagement
  *    metric next to q186's entry/exit paths.
  */
object ExtensionQueries32 extends QueryGroup {

  // --------------------------------------------------------------- q190

  /** q190: incremental maintenance of a JOIN view under BOTH-side
    * inserts. The view is per-nation (n_orders, revenue cents) over
    * orders ⋈ customer; the "stored" state is the view over
    * (old orders = before 1995) ⋈ (old customers = custkey % 10 ≠ 0).
    * New orders (≥ 1995) and newly-registered customers (% 10 = 0)
    * arrive as deltas, and the refresh applies the distributive
    * delta algebra
    * `Δview = agg(ΔA ⋈ B_old) + agg(A_old ⋈ ΔB) + agg(ΔA ⋈ ΔB)`
    * merged with the stored aggregate by one nation-keyed re-sum —
    * the FULL join is NEVER recomputed (the old⋈old term is read from
    * the materialized state). The oracle computes the naive full join:
    * equality certifies the algebra.
    *
    * Scale shape: the stored view is nation-sized (localCheckpoint pins
    * it as the "previously materialized" input); each delta term joins
    * a DELTA against one side (key-partitioned; the delta side is the
    * small one at steady state); the merge is a ≤|nations| re-aggregate.
    */
  def q190_ivm_join(s: SparkSession, dir: String): DataFrame = {
    val cutoffDay = 9131L // 1995-01-01 as days since epoch
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"))
    val aOld = o.filter(col("day") < cutoffDay)
    val aNew = o.filter(col("day") >= cutoffDay)
    val bOld = c.filter(col("c_custkey") % 10 =!= 0)
    val bNew = c.filter(col("c_custkey") % 10 === 0)
    def viewAgg(orders: DataFrame, custs: DataFrame): DataFrame =
      orders.join(custs, col("o_custkey") === col("c_custkey"))
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
    // the previously-materialized state: old ⋈ old, pinned so the
    // refresh below can NEVER silently recompute it from raw
    val stored = viewAgg(aOld, bOld).transform(graft.core.Ckpt.eager)
    val refreshed = stored
      .unionByName(viewAgg(aNew, bOld))
      .unionByName(viewAgg(aOld, bNew))
      .unionByName(viewAgg(aNew, bNew))
      .groupBy(col("nation"))
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("cents")).as("cents"))
    refreshed.select(col("nation"), col("n_orders"), col("cents"))
      .orderBy(col("nation"))
  }

  val q190Sql: String =
    """SELECT CAST(c_nationkey AS BIGINT) AS nation,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey
      |ORDER BY nation""".stripMargin

  // --------------------------------------------------------------- q191

  /** q191: weekly distinct users per event type by REAGGREGATING stored
    * daily bitmaps — q174's exact 64-bit presence bitmaps, pushed one
    * level further: the daily (type, day, word)→bits layer is built
    * once (the stored pre-aggregate), and the weekly rollup bit_ors
    * DAILY BITMAPS — it never touches raw events. Exact distincts that
    * merge like sketches; the oracle's plain COUNT(DISTINCT) per week
    * certifies the merge algebra.
    *
    * Scale shape: the events-sized pass is the daily bit_or (map-side
    * combined, one LONG per 64 users per day on the wire); the weekly
    * layer aggregates the BITMAP frame (|types|·|days|·|words| rows —
    * data-independent of event count); localCheckpoint pins the daily
    * layer as the stored input.
    */
  def q191_bitmap_rollup(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val daily = Tables.events(s, dir)
      .select(col("event_type"),
        expr(s"ts div 1000 div $dayUs").as("day"),
        expr("user_id div 64").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))")
          .as("mask"))
      .groupBy(col("event_type"), col("day"), col("word"))
      .agg(expr("bit_or(mask)").as("bits"))
      .transform(graft.core.Ckpt.eager) // the stored daily pre-aggregate
    daily
      .groupBy(col("event_type"), expr("day div 7").as("week"), col("word"))
      .agg(expr("bit_or(bits)").as("bits"))
      .groupBy(col("event_type"), col("week"))
      .agg(sum(expr("bit_count(bits)")).cast("long").as("distinct_users"))
      .orderBy(col("event_type"), col("week"))
  }

  val q191Sql: String =
    """SELECT event_type,
      |  epoch_us(ts) // 86400000000 // 7 AS week,
      |  count(DISTINCT user_id) AS distinct_users
      |FROM events
      |GROUP BY event_type, week
      |ORDER BY event_type, week""".stripMargin

  // --------------------------------------------------------------- q192

  /** q192: per-page dwell time — inside each 30-minute session, a
    * page's dwell is the exact µs until the session's next event; the
    * session's last event has no dwell (it is censored, not zero). Top
    * 20 pages by total dwell. The engagement metric beside q186's
    * entry/exit paths.
    *
    * Scale shape: ONE user-partitioned window family computes the
    * session islands AND the lead (the (user, session) lead rides the
    * same user exchange — `lead(session_id)` masks cross-session
    * pairs, so no second partitioning is needed); the report is a
    * page-keyed aggregate + TakeOrderedAndProject.
    */
  def q192_dwell_time(s: SparkSession, dir: String): DataFrame = {
    val flagged = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        get_json_object(col("props"), "$.k").try_cast("long").as("page"),
        expr("ts div 1000").as("us"))
      .transform(Sessions.flag)
      .withColumn("next_us", lead(col("us"), 1).over(Sessions.byUser))
      .withColumn("next_sess", lead(col("session_id"), 1).over(Sessions.byUser))
      .withColumn("dwell_us",
        when(col("next_sess") === col("session_id"),
          col("next_us") - col("us")))
    flagged.filter(col("page").isNotNull && col("dwell_us").isNotNull)
      .groupBy(col("page"))
      .agg(count(lit(1)).as("n_dwells"), sum(col("dwell_us")).as("total_dwell_us"))
      .select(col("page"), col("n_dwells"), col("total_dwell_us"),
        expr("total_dwell_us div n_dwells").as("avg_dwell_us"))
      .orderBy(col("total_dwell_us").desc, col("page"))
      .limit(20)
  }

  val q192Sql: String =
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
      |), d AS (
      |  SELECT *, lead(us, 1) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id) AS next_us,
      |    lead(session_id, 1) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id) AS next_sess
      |  FROM g
      |)
      |SELECT page, count(*) AS n_dwells,
      |  CAST(sum(next_us - us) AS BIGINT) AS total_dwell_us,
      |  CAST(sum(next_us - us) // count(*) AS BIGINT) AS avg_dwell_us
      |FROM d
      |WHERE page IS NOT NULL AND next_sess = session_id
      |GROUP BY page
      |ORDER BY total_dwell_us DESC, page
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q190_ivm_join", q190_ivm_join _, q190Sql),
    Query("q191_bitmap_rollup", q191_bitmap_rollup _, q191Sql),
    Query("q192_dwell_time", q192_dwell_time _, q192Sql)
  )
}
