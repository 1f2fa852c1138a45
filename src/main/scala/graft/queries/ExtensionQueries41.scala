package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Sessions

/** Pipeline completeness, behavioral lift, and abuse
  * detection — exact-integer, DuckDB-oracle-gated.
  *
  *  - q216: backfill completeness monitor — expected×present partition
  *    matrix per event type.
  *  - q217: page→conversion lift — which pages' sessions convert above
  *    base rate.
  *  - q218: abuse heuristic report — burst-rate flags from exact
  *    per-user inter-arrival statistics.
  */
object ExtensionQueries41 extends QueryGroup {

  // --------------------------------------------------------------- q216

  /** q216: backfill completeness monitor — against the GLOBAL calendar
    * of days observed anywhere in the table, each event type reports
    * how many days it has data for, how many are missing, the first
    * missing day (NULL when complete), and completeness in ppm. The
    * "did the backfill actually land every partition" readout that
    * catches silently-skipped days long before downstream metrics
    * drift.
    *
    * Scale shape: one events pass → distinct (type, day); the calendar
    * is the distinct-days frame (tiny, broadcast); the expected×present
    * matrix is a broadcast join of two small frames, never a scan per
    * type.
    */
  def q216_backfill_monitor(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val td = Tables.events(s, dir)
      .select(col("event_type"), expr(s"ts div 1000 div $dayUs").as("day"))
      .distinct()
    val calendar = td.select(col("day")).distinct()
    val types = td.select(col("event_type")).distinct()
    val nDays = calendar.agg(count(lit(1)).as("n_days"))
    // the calendar is |days| rows — a time constant, not a data volume;
    // the hint both declares that bound (PlanGate) and pins the grid
    // fan-out to replicate days, never the type spine
    types.crossJoin(broadcast(calendar))
      .join(td.withColumn("present", lit(1L)), Seq("event_type", "day"),
        "left")
      .groupBy(col("event_type"))
      .agg(sum(when(col("present").isNotNull, 1L).otherwise(0L))
        .as("n_present"),
        min(when(col("present").isNull, col("day"))).as("first_missing_day"))
      .crossJoin(broadcast(nDays))
      .select(col("event_type"), col("n_days").as("n_expected"),
        col("n_present"), (col("n_days") - col("n_present")).as("n_missing"),
        col("first_missing_day"),
        expr("n_present * 1000000 div n_days").as("complete_ppm"))
      .orderBy(col("event_type"))
  }

  val q216Sql: String =
    """WITH td AS (
      |  SELECT DISTINCT event_type, epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |), cal AS (SELECT DISTINCT day FROM td
      |), ty AS (SELECT DISTINCT event_type FROM td
      |), nd AS (SELECT count(*) AS n_days FROM cal)
      |SELECT ty.event_type, n_days AS n_expected,
      |  CAST(sum(CASE WHEN td.day IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_present,
      |  CAST(n_days - sum(CASE WHEN td.day IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_missing,
      |  min(CASE WHEN td.day IS NULL THEN cal.day END) AS first_missing_day,
      |  CAST(sum(CASE WHEN td.day IS NOT NULL THEN 1 ELSE 0 END) * 1000000
      |    // n_days AS BIGINT) AS complete_ppm
      |FROM ty CROSS JOIN cal
      |LEFT JOIN td ON td.event_type = ty.event_type AND td.day = cal.day, nd
      |GROUP BY ty.event_type, n_days
      |ORDER BY ty.event_type""".stripMargin

  // --------------------------------------------------------------- q217

  /** q217: page→conversion lift — for each page (`props.$.k`), the
    * share of its 30-minute sessions that also contain a purchase,
    * against the all-sessions base rate, as exact ppm lift. The
    * behavioral cousin of q154's document keyword lift: which content
    * actually co-occurs with buying.
    *
    * Scale shape: session islands from the one user-partitioned window
    * family; per-session page set and purchase flag fold in one
    * (user, session)-keyed pass; page stats join the 1-row base rate
    * broadcast. Pages with < 5 sessions drop (rate noise floor).
    */
  def q217_page_conversion_lift(s: SparkSession, dir: String): DataFrame = {
    val flagged = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").try_cast("long").as("page"),
        expr("ts div 1000").as("us"))
      .transform(Sessions.flag)
    val sess = flagged.groupBy(col("user_id"), col("session_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
    val base = sess.agg(count(lit(1)).as("n_sessions"),
      sum(col("converted")).as("n_converted"))
    val pageSess = flagged.filter(col("page").isNotNull)
      .select(col("user_id"), col("session_id"), col("page")).distinct()
      .join(sess, Seq("user_id", "session_id"))
    pageSess.groupBy(col("page"))
      .agg(count(lit(1)).as("n_sess"), sum(col("converted")).as("n_conv"))
      .filter(col("n_sess") >= 5)
      .crossJoin(broadcast(base))
      .select(col("page"), col("n_sess"), col("n_conv"),
        expr("n_conv * 1000000 div n_sess").as("conv_ppm"),
        expr("(n_conv * 1000000 div n_sess) * 1000000" +
          " div (n_converted * 1000000 div n_sessions)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("page"))
      .limit(20)
  }

  val q217Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, event_type,
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
      |), sess AS (
      |  SELECT user_id, session_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS converted
      |  FROM g GROUP BY user_id, session_id
      |), base AS (
      |  SELECT count(*) AS n_sessions,
      |    CAST(sum(converted) AS BIGINT) AS n_converted
      |  FROM sess
      |), ps AS (
      |  SELECT DISTINCT g.user_id, g.session_id, g.page
      |  FROM g WHERE g.page IS NOT NULL
      |)
      |SELECT ps.page, count(*) AS n_sess,
      |  CAST(sum(converted) AS BIGINT) AS n_conv,
      |  CAST(sum(converted) * 1000000 // count(*) AS BIGINT) AS conv_ppm,
      |  CAST((sum(converted) * 1000000 // count(*)) * 1000000
      |    // (n_converted * 1000000 // n_sessions) AS BIGINT) AS lift_ppm
      |FROM ps
      |JOIN sess ON ps.user_id = sess.user_id
      |  AND ps.session_id = sess.session_id, base
      |GROUP BY ps.page, n_converted, n_sessions
      |HAVING count(*) >= 5
      |ORDER BY lift_ppm DESC, page
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q218

  /** q218: abuse heuristic report — per user, the exact behavioral
    * fingerprint a rate-limiter reads: event count, minimum and median
    * inter-arrival µs, distinct event types, and two flags — `burst`
    * (any inter-arrival below 100ms) and `hyperactive` (above 3× the
    * mean event count, cross-multiplied so no float rate forms). Top
    * 20 users by event count. The fraud/abuse tier's screening pass —
    * exact, so a flagged user is flagged for an auditable reason.
    *
    * Scale shape: ONE user-partitioned window pass yields gaps; the
    * per-user fold computes min/median (median via the sorted-gap
    * count trick inside the aggregate: exact ceil-rank on the
    * collected per-user gap multiset would not scale, so the median
    * here is the per-user EXACT one computed from the user's own
    * bounded event list — events per user are bounded by product
    * reality, and the plan keeps them inside one aggregate, never a
    * global sort).
    */
  def q218_abuse_heuristics(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
    val users = gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("gap")).as("min_gap_us"),
        sort_array(collect_list(col("gap"))).as("gl"))
      .withColumn("median_gap_us",
        when(size(col("gl")) > 0,
          element_at(col("gl"),
            ((size(col("gl")) + 1) / lit(2)).cast("int"))))
      .drop("gl")
    val mean = users.agg(sum(col("n_events")).as("total_events"),
      count(lit(1)).as("n_users"))
    users.crossJoin(broadcast(mean))
      .select(col("user_id"), col("n_events"), col("n_types"),
        col("min_gap_us"), col("median_gap_us"),
        (col("min_gap_us") < 100000L).as("burst"),
        (col("n_events") * col("n_users") > col("total_events") * 3)
          .as("hyperactive"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(20)
  }

  val q218Sql: String =
    """WITH g AS (
      |  SELECT user_id, event_type,
      |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS gap
      |  FROM events
      |), u AS (
      |  SELECT user_id, count(*) AS n_events,
      |    count(DISTINCT event_type) AS n_types,
      |    CAST(min(gap) AS BIGINT) AS min_gap_us,
      |    CAST((array_agg(gap ORDER BY gap))
      |      [(count(CASE WHEN gap IS NOT NULL THEN 1 END) + 1) // 2]
      |      AS BIGINT) AS median_gap_us
      |  FROM g GROUP BY user_id
      |), m AS (
      |  SELECT CAST(sum(n_events) AS BIGINT) AS total_events,
      |    count(*) AS n_users
      |  FROM u
      |)
      |SELECT user_id, n_events, n_types, min_gap_us, median_gap_us,
      |  min_gap_us < 100000 AS burst,
      |  n_events * n_users > total_events * 3 AS hyperactive
      |FROM u, m
      |ORDER BY n_events DESC, user_id
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q216_backfill_monitor", q216_backfill_monitor _, q216Sql),
    Query("q217_page_conversion_lift", q217_page_conversion_lift _, q217Sql),
    Query("q218_abuse_heuristics", q218_abuse_heuristics _, q218Sql)
  )
}
