package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{PrefixScan, Sessions}

/** Concurrency counting, parameter sensitivity, and
  * schema profiling — exact-integer, DuckDB-oracle-gated.
  *
  *  - q210: peak session concurrency — the interval +1/−1 sweep, scan-
  *    parallelized through the two-phase prefix sum.
  *  - q211: sessionization gap sensitivity — session counts at three
  *    gap thresholds from ONE window pass.
  *  - q212: functional-dependency discovery — TANE-style A→B checks
  *    with exact violation counts.
  */
object ExtensionQueries39 extends QueryGroup {

  // --------------------------------------------------------------- q210

  /** q210: peak concurrent sessions per hour — q21's 30-minute sessions
    * become (+1 at start, −1 after end) boundary events; the running
    * sum of boundaries in (time, delta) order IS the concurrency curve
    * (the classic interval sweep), and it scan-parallelizes exactly via
    * [[graft.ops.PrefixScan.prefixSumsInclusive]] — never a global
    * single-reducer window. Report: per hour, the maximum concurrency
    * reached in that hour. Ends sort before coincident starts
    * (delta ascending) so back-to-back sessions never double-count.
    *
    * Scale shape: islands come from q21's user-partitioned windows; the
    * boundary frame is 2 rows per session; the sweep is one two-phase
    * prefix pass over it; the hourly max is a tiny aggregate.
    */
  def q210_peak_concurrency(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val sessions = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"))
      .transform(Sessions.flag)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"))
    val bounds = sessions.select(col("start_us").as("t"), lit(1L).as("d"))
      .unionByName(sessions.select((col("end_us") + 1).as("t"),
        lit(-1L).as("d")))
      .groupBy(col("t"), col("d")).agg(sum(col("d")).as("delta"))
    val swept = PrefixScan.prefixSumsInclusive(bounds, 16,
      Seq(col("t"), col("d")), Seq((col("delta"), "conc")))
    swept.filter(col("d") === 1L) // concurrency is sampled AT each start
      .select(expr("t div 3600000000").as("hour"), col("conc"))
      .groupBy(col("hour"))
      .agg(max(col("conc")).as("peak_concurrency"))
      .orderBy(col("hour"))
  }

  val q210Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |         > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |), g AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM f
      |), sess AS (
      |  SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us
      |  FROM g GROUP BY user_id, session_id
      |), bounds AS (
      |  SELECT t, d, CAST(sum(d) AS BIGINT) AS delta FROM (
      |    SELECT start_us AS t, 1 AS d FROM sess
      |    UNION ALL SELECT end_us + 1 AS t, -1 AS d FROM sess
      |  ) GROUP BY t, d
      |), swept AS (
      |  SELECT t, d,
      |    CAST(sum(delta) OVER (ORDER BY t, d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS conc
      |  FROM bounds
      |)
      |SELECT t // 3600000000 AS hour, max(conc) AS peak_concurrency
      |FROM swept WHERE d = 1
      |GROUP BY hour
      |ORDER BY hour""".stripMargin

  // --------------------------------------------------------------- q211

  /** q211: sessionization gap sensitivity — session counts and mean
    * session length (events per session, ppm) at gap thresholds of 10,
    * 30, and 60 minutes, ALL from one user-partitioned lag pass: a
    * session boundary at gap g is simply `diff > g`, so each
    * threshold's session count is `1 + Σ[diff > g]` per user — three
    * conditional sums over the same lag column. The parameter-tuning
    * readout for every session-based metric upstream.
    *
    * Scale shape: one window pass, one global fold; no per-threshold
    * re-scan. The total event count (broadcast) gives mean lengths.
    */
  def q211_session_sensitivity(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val diffs = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"))
      .withColumn("diff", col("us") - lag(col("us"), 1).over(w))
    val total = diffs.agg(count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"))
    val gaps = s.createDataFrame(Seq(Tuple1(10L), Tuple1(30L), Tuple1(60L)))
      .toDF("gap_minutes")
    diffs.crossJoin(broadcast(gaps))
      .groupBy(col("gap_minutes"))
      .agg(sum(when(col("diff") > col("gap_minutes") * 60000000L, 1L)
        .otherwise(0L)).as("n_breaks"))
      .crossJoin(broadcast(total))
      .select(col("gap_minutes"),
        (col("n_breaks") + col("n_users")).as("n_sessions"),
        expr("n_events * 1000000 div (n_breaks + n_users)")
          .as("mean_events_ppm"))
      .orderBy(col("gap_minutes"))
  }

  val q211Sql: String =
    """WITH d AS (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS diff
      |  FROM events
      |), t AS (
      |  SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users
      |  FROM d
      |), gaps AS (SELECT CAST(unnest([10, 30, 60]) AS BIGINT) AS gap_minutes)
      |SELECT gap_minutes,
      |  CAST(sum(CASE WHEN diff > gap_minutes * 60000000 THEN 1 ELSE 0 END)
      |    + n_users AS BIGINT) AS n_sessions,
      |  CAST(n_events * 1000000
      |    // (sum(CASE WHEN diff > gap_minutes * 60000000 THEN 1 ELSE 0 END)
      |      + n_users) AS BIGINT) AS mean_events_ppm
      |FROM d, t, gaps
      |GROUP BY gap_minutes, n_events, n_users
      |ORDER BY gap_minutes""".stripMargin

  // --------------------------------------------------------------- q212

  /** q212: functional-dependency discovery (TANE-style, fixed candidate
    * set) — for each candidate A→B over orders/customer columns, the
    * exact number of A-values violating the dependency (more than one
    * distinct B) and whether the FD holds. The schema-profiling
    * primitive behind key detection and normalization advice; feeds the
    * same planner tier as q135's profiler.
    *
    * Scale shape: each candidate is one (A)-keyed aggregate of
    * `count(distinct B)` over a two-column projection (column-pruned
    * scan); the verdict fold is 1-row per candidate; candidates union
    * into one report.
    */
  def q212_fd_discovery(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    def check(df: DataFrame, a: String, b: String): DataFrame =
      df.groupBy(col(a)).agg(countDistinct(col(b)).as("nb"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("nb") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(s"$a->$b").as("candidate"), col("n_keys"),
          col("n_violating"), (col("n_violating") === 0L).as("fd_holds"))
    check(o, "o_orderkey", "o_custkey")
      .unionByName(check(o, "o_custkey", "o_orderpriority"))
      .unionByName(check(c, "c_custkey", "c_nationkey"))
      .unionByName(check(c, "c_nationkey", "c_mktsegment"))
      .orderBy(col("candidate"))
  }

  val q212Sql: String =
    """WITH k1 AS (
      |  SELECT o_orderkey AS a, count(DISTINCT o_custkey) AS nb
      |  FROM orders GROUP BY 1
      |), k2 AS (
      |  SELECT o_custkey AS a, count(DISTINCT o_orderpriority) AS nb
      |  FROM orders GROUP BY 1
      |), k3 AS (
      |  SELECT c_custkey AS a, count(DISTINCT c_nationkey) AS nb
      |  FROM customer GROUP BY 1
      |), k4 AS (
      |  SELECT c_nationkey AS a, count(DISTINCT c_mktsegment) AS nb
      |  FROM customer GROUP BY 1
      |)
      |SELECT 'o_orderkey->o_custkey' AS candidate, count(*) AS n_keys,
      |  CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_violating,
      |  sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds FROM k1
      |UNION ALL
      |SELECT 'o_custkey->o_orderpriority', count(*),
      |  CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |  sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 FROM k2
      |UNION ALL
      |SELECT 'c_custkey->c_nationkey', count(*),
      |  CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |  sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 FROM k3
      |UNION ALL
      |SELECT 'c_nationkey->c_mktsegment', count(*),
      |  CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |  sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 FROM k4
      |ORDER BY candidate""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q210_peak_concurrency", q210_peak_concurrency _, q210Sql),
    Query("q211_session_sensitivity", q211_session_sensitivity _, q211Sql),
    Query("q212_fd_discovery", q212_fd_discovery _, q212Sql)
  )
}
