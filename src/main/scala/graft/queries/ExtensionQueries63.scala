package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-10 batch 1: event-time windows on NATIVE TIMESTAMP columns
  * (round-9 verdict task #5). The whole windowed tier so far buckets on
  * integer µs/nanos arithmetic (`ts div …` — deliberately, for
  * cross-engine exactness); these variants run the SAME window shapes
  * through Spark's typed `window()` / `session_window()` operators on a
  * real TIMESTAMP column, mirrored with DuckDB `time_bucket` /
  * lag-gap sessionization, so the tier certifies the TIMESTAMP path the
  * reference's hourly rollups (`etl_merge.py`'s date handling) would
  * actually use in production.
  *
  *  - q282: tumbling 1-hour `window(ts)` × event type.
  *  - q283: per-user 30-min `session_window(ts)`.
  *  - q284: sliding 1-hour/30-min `window(ts, w, s)`.
  *
  * Determinism notes shared by the three: the canonical long-nanos `ts`
  * converts via `timestamp_micros(ts div 1000)` (exact floor — both
  * engines trunc toward zero on positive epochs); money folds as exact
  * cents; windows align to the epoch in both engines (DuckDB
  * `time_bucket`'s 2000-01-01 origin is hour-aligned with the epoch, so
  * hour/30-min buckets agree; the session mirror uses pure integer µs).
  */
object ExtensionQueries63 extends QueryGroup {

  private def withEventTs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      .withColumn("cents", round(col("value") * 100).cast("long"))

  // --------------------------------------------------------------- q282

  /** q282: tumbling 1-hour windows per event type over the native
    * TIMESTAMP column — count, exact distinct users, exact cents sum,
    * with both window bounds emitted as real timestamps.
    *
    * Scale shape: identical to the integer-bucket form (q16/q56): the
    * `window()` projection is a codegen floor-to-bucket, the aggregate is
    * (window, type)-keyed with map-side partial combine; distinct users
    * expand to (window, type, user) pre-aggregation — the standard exact-
    * distinct cost. Streaming-composable as-is (same operator tree with a
    * watermark, pinned by the q56 family).
    */
  def q282_tumbling_native_ts(s: SparkSession, dir: String): DataFrame =
    withEventTs(s, dir)
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("sum_cents"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n"), col("n_users"), col("sum_cents"))
      .orderBy(col("window_start"), col("event_type"))

  val q282Sql: String =
    """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
      |    AS window_start,
      |  time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
      |    + INTERVAL '1 hour' AS window_end,
      |  event_type, count(*) AS n,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY window_start, event_type""".stripMargin

  // --------------------------------------------------------------- q283

  /** q283: per-user session windows with a 30-minute inactivity gap on
    * the native TIMESTAMP column — session start, end (last event +
    * gap, Spark's `session_window` contract), event count, exact cents.
    * Boundary semantics pinned (ExtensionQueries63Spec fixture): Spark
    * merges an event into the current session iff its time is AT OR
    * before current-end (= last + gap) — a gap of exactly 30 min still
    * merges — so the mirror's new-session test is `diff > gap`, strictly.
    *
    * Scale shape: `session_window` is a user-keyed sort-merge within
    * hash partitions (one shuffle on user_id); no global sort, no
    * driver state. The same operator tree runs streaming with a
    * watermark (q66 pins the streaming form on integer buckets).
    */
  def q283_session_native_ts(s: SparkSession, dir: String): DataFrame =
    withEventTs(s, dir)
      .groupBy(col("user_id"), session_window(col("event_ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_cents"))
      .orderBy(col("user_id"), col("session_start"))

  val q283Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), g AS (
      |  SELECT *, CASE WHEN us - lag(us)
      |      OVER (PARTITION BY user_id ORDER BY us) > 1800000000
      |    OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM e
      |), sess AS (
      |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS sid
      |  FROM g
      |)
      |SELECT user_id,
      |  make_timestamp(min(us)) AS session_start,
      |  make_timestamp(max(us) + 1800000000) AS session_end,
      |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // --------------------------------------------------------------- q284

  /** q284: sliding 1-hour windows advancing every 30 minutes on the
    * native TIMESTAMP column — count and exact distinct users per
    * overlapping window. Each event lands in exactly width/slide = 2
    * windows (starts `slide_bucket(ts) − k·slide`, k ∈ {0, 1}); the
    * mirror materializes the same 2-way fan-out with an unnested offset
    * list and pure integer µs arithmetic.
    *
    * Scale shape: `window(w, s)` explodes each row into w/s = 2 window
    * assignments BEFORE the keyed aggregate — a constant fan-out riding
    * map-side combine, the same cost shape as the integer-bucket q65.
    */
  def q284_sliding_native_ts(s: SparkSession, dir: String): DataFrame =
    withEventTs(s, dir)
      .groupBy(window(col("event_ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"), col("n_users"))
      .orderBy(col("window_start"))

  val q284Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS us, user_id FROM events
      |), x AS (
      |  SELECT user_id,
      |    make_timestamp((us // 1800000000 - k) * 1800000000)
      |      AS window_start,
      |    make_timestamp((us // 1800000000 - k) * 1800000000 + 3600000000)
      |      AS window_end
      |  FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k)
      |)
      |SELECT window_start, window_end, count(*) AS n,
      |  count(DISTINCT user_id) AS n_users
      |FROM x GROUP BY 1, 2
      |ORDER BY window_start""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q282_tumbling_native_ts", q282_tumbling_native_ts _, q282Sql),
    Query("q283_session_native_ts", q283_session_native_ts _, q283Sql),
    Query("q284_sliding_native_ts", q284_sliding_native_ts _, q284Sql)
  )
}
