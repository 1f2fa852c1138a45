package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Batch-equivalent forms of the streaming operators, registered in the
  * harness so the DuckDB oracle certifies the streaming semantics too
  * (streaming == batch is pinned in StreamingSpec; batch == DuckDB here —
  * the standard two-hop certification for Structured Streaming).
  */
object StreamingQueries extends QueryGroup {

  /** q46: the spend-milestone stateful operator's batch formulation — one
    * row per 500.00-crossing of a user's cumulative spend (exact cents
    * running sums; order pinned by (µs, event_id)).
    */
  def q46_spend_milestones(s: SparkSession, dir: String): DataFrame = {
    val step = 50000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
        round(col("value") * 100).cast("long").as("vc"))
      .withColumn("total_cents",
        sum(col("vc")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_total", coalesce(lag(col("total_cents"), 1).over(w), lit(0L)))
      .filter(expr(s"total_cents div $step") > expr(s"prev_total div $step"))
      .select(col("user_id"), col("event_id"), col("total_cents"),
        (expr(s"total_cents div $step") * step).as("milestone"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q46Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(round(value*100) AS BIGINT) AS vc
      |  FROM events
      |), g1 AS (
      |  SELECT user_id, event_id, us,
      |    CAST(sum(vc) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS total_cents
      |  FROM f
      |), g AS (
      |  SELECT user_id, event_id, total_cents,
      |    coalesce(lag(total_cents, 1)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id), 0) AS prev_total
      |  FROM g1
      |)
      |SELECT user_id, event_id, total_cents,
      |  (total_cents // 50000) * 50000 AS milestone
      |FROM g
      |WHERE total_cents // 50000 > prev_total // 50000
      |ORDER BY user_id, event_id""".stripMargin

  /** q52: the stream-static enrichment join's batch formulation — events
    * left-joined to the customer dimension (broadcast), rolled up per
    * (hour window, market segment) with exact-cents sums.
    */
  def q52_stream_enrich(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
    graft.streaming.StreamOps.enrichedAgg(ev, cust, "1 hour")
      .orderBy(col("window_start"), col("segment"))
  }

  val q52Sql: String =
    """WITH e AS (
      |  SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
      |    user_id, CAST(round(value*100) AS BIGINT) AS vc
      |  FROM events
      |), j AS (
      |  SELECT window_start, c_mktsegment AS segment, vc
      |  FROM e LEFT JOIN customer ON user_id = c_custkey
      |)
      |SELECT window_start, segment, count(*) AS n,
      |  CAST(sum(vc) AS BIGINT) / 100.0 AS sum_value
      |FROM j GROUP BY window_start, segment
      |ORDER BY window_start, segment""".stripMargin

  /** q56: the watermarked tumbling-window aggregation's batch formulation —
    * hourly (window, event_type) counts and exact-cents sums through the
    * SAME watermarked operator the stream runs (the watermark node is a
    * no-op in batch). The streaming hop — late data beyond the watermark
    * provably dropped across real micro-batches — is pinned in
    * StreamingSpec; this row pins batch == DuckDB.
    */
  def q56_tumbling_watermark(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.tumblingAggLate(Tables.events(s, dir), "1 hour", "30 minutes")
      .orderBy(col("window_start"), col("event_type"))

  val q56Sql: String =
    """WITH e AS (
      |  SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
      |    event_type, CAST(round(value*100) AS BIGINT) AS vc
      |  FROM events
      |)
      |SELECT window_start, event_type, count(*) AS n,
      |  CAST(sum(vc) AS BIGINT) / 100.0 AS sum_value
      |FROM e GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin

  /** q62: the stream-stream interval join's batch formulation — purchases
    * attributed to the same user's views within the prior 30 minutes,
    * through the SAME watermarked operator the stream runs (watermarks
    * no-op in batch). The streaming hop — the join buffering both sides'
    * state across real micro-batches — is pinned in StreamingSpec; this
    * row pins batch == DuckDB (exact-µs range join).
    */
  def q62_purchase_attribution(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.purchaseAttribution(Tables.events(s, dir), 30, "1 hour")
      .orderBy(col("purchase_id"), col("view_id"))

  val q62Sql: String =
    """WITH p AS (
      |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
      |  FROM events WHERE event_type = 'purchase'
      |), v AS (
      |  SELECT user_id, event_id AS view_id, epoch_us(ts) AS v_us
      |  FROM events WHERE event_type = 'view'
      |)
      |SELECT p.user_id, purchase_id, view_id, p_us, v_us
      |FROM p JOIN v ON p.user_id = v.user_id
      |  AND v_us >= p_us - 1800000000 AND v_us <= p_us
      |ORDER BY purchase_id, view_id""".stripMargin

  /** q65: sliding windows (1 h width / 30 min slide) — each event lands in
    * width/slide = 2 windows. The oracle derives the window starts
    * arithmetically (start = (⌊us/slide⌋ − k)·slide for k ∈ {0,1}; with
    * width = 2·slide every k is in range), matching Spark's epoch-aligned
    * window generation exactly in integer µs.
    */
  def q65_sliding(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.slidingAgg(Tables.events(s, dir), "1 hour", "30 minutes")
      .orderBy(col("window_start"), col("event_type"))

  val q65Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS us, event_type FROM events
      |), w AS (
      |  SELECT make_timestamp(((us // 1800000000) - k) * 1800000000) AS window_start,
      |    event_type
      |  FROM e CROSS JOIN (SELECT unnest(range(0, 2)) AS k)
      |)
      |SELECT window_start, event_type, count(*) AS n
      |FROM w GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin

  /** q66: native session_window (30 min gap) per user — the gap-merged
    * session operator's batch formulation with a DuckDB gaps-and-islands
    * mirror (new session when the µs gap exceeds the threshold; running
    * session id via a windowed sum). Exact-cents sums; session start is
    * the µs of the first event.
    */
  def q66_session_window(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.sessionAgg(Tables.events(s, dir), "30 minutes")
      .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("start_us"))

  val q66Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(round(value*100) AS BIGINT) AS vc
      |  FROM events
      |), g AS (
      |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |), sid AS (
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
      |  FROM g
      |)
      |SELECT user_id, min(us) AS start_us, count(*) AS n_events,
      |  CAST(sum(vc) AS BIGINT) / 100.0 AS sum_value
      |FROM sid GROUP BY user_id, sess
      |ORDER BY user_id, start_us""".stripMargin

  /** q98: the pure-interval stream-stream join's batch formulation —
    * incident windows (every 200th event, 30 min) joined to every event
    * inside them via the bucketed equi-key + exact BETWEEN
    * ([[graft.streaming.StreamOps.incidentWindowJoin]]; watermarks no-op
    * in batch). The streaming hop — symmetric hash join state expiring
    * under both watermarks — is pinned in StreamingSpec; this row pins
    * batch == DuckDB, where the oracle writes the bare interval join with
    * no bucket artifacts (proving the bucketing is result-invisible).
    */
  def q98_stream_interval_join(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.incidentWindowJoin(Tables.events(s, dir))
      .orderBy(col("window_id"), col("ev_id"))

  val q98Sql: String =
    """WITH w AS (
      |  SELECT event_id AS window_id, epoch_us(ts) AS w_us
      |  FROM events WHERE event_id % 200 = 0
      |)
      |SELECT w.window_id, e.event_id AS ev_id, e.user_id,
      |  CAST(round(e.value * 100) AS BIGINT) AS value_cents,
      |  w.w_us, epoch_us(e.ts) AS e_us
      |FROM w JOIN events e
      |  ON epoch_us(e.ts) >= w.w_us AND epoch_us(e.ts) <= w.w_us + 1800000000
      |ORDER BY window_id, ev_id""".stripMargin

  /** q108: windowed count-min frequency sketch as a streaming stateful
    * aggregation ([[graft.streaming.StreamOps.windowedCountMin]]) — one
    * 4×64 cell grid per 6-hour tumbling window (state bounded at d·w
    * counters per live window; the watermark retires whole windows), here
    * in its batch form: per (window, probe key ≤ 50) the exact count,
    * the sketch estimate, and the certified never-undercount boolean.
    * The streaming hop — the SAME transform fed file-by-file micro-
    * batches yielding identical cells — is pinned in StreamingSpec.
    */
  def q108_stream_count_min(s: SparkSession, dir: String): DataFrame = {
    val cells = graft.streaming.StreamOps.windowedCountMin(
      Tables.events(s, dir), "6 hours", "30 minutes", 4, 64)
    val keys = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 50).select(col("c_custkey"))
    val probes = cells.select(col("window_start")).distinct()
      .crossJoin(broadcast(keys))
      .withColumn("row", explode(sequence(lit(0L), lit(3L))))
      .withColumn("bucket", graft.ops.CountMin.bucket(col("c_custkey"), col("row"), 64))
    val est = probes.join(cells, Seq("window_start", "row", "bucket"), "left")
      .groupBy(col("window_start"), col("c_custkey"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
    val tru = Tables.events(s, dir)
      .filter(col("user_id") <= 50)
      .groupBy(window(graft.streaming.StreamOps.tsCol, "6 hours")
          .getField("start").as("window_start"),
        col("user_id"))
      .agg(count(lit(1)).as("true_cnt"))
    est.join(tru, est("window_start") === tru("window_start") &&
        col("c_custkey") === col("user_id"), "left")
      .select(est("window_start"), col("c_custkey"),
        coalesce(col("true_cnt"), lit(0L)).as("true_cnt"), col("cms_est"),
        (col("cms_est") >= coalesce(col("true_cnt"), lit(0L))).as("never_under"))
      .orderBy(est("window_start"), col("c_custkey"))
  }

  val q108Sql: String = {
    def bucket(key: String): String =
      s"((((2 * j + 1) * 2654435761) % 1000000007) * $key + (40503 * j + 7)) " +
        "% 1000000007 % 64"
    s"""WITH js AS (SELECT unnest(range(0, 4)) AS j),
       |e AS (
       |  SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS ws,
       |    user_id
       |  FROM events
       |), cells AS (
       |  SELECT ws, j, ${bucket("user_id")} AS bucket, count(*) AS cnt
       |  FROM e CROSS JOIN js GROUP BY 1, 2, 3
       |), keys AS (SELECT c_custkey FROM customer WHERE c_custkey <= 50),
       |probes AS (
       |  SELECT ws, c_custkey, j, ${bucket("c_custkey")} AS bucket
       |  FROM (SELECT DISTINCT ws FROM e) CROSS JOIN keys CROSS JOIN js
       |), est AS (
       |  SELECT ws, c_custkey, min(coalesce(cnt, 0)) AS cms_est
       |  FROM probes LEFT JOIN cells USING (ws, j, bucket) GROUP BY 1, 2
       |), tru AS (
       |  SELECT ws, user_id, count(*) AS true_cnt
       |  FROM e WHERE user_id <= 50 GROUP BY 1, 2
       |)
       |SELECT es.ws AS window_start, es.c_custkey,
       |  coalesce(t.true_cnt, 0) AS true_cnt, es.cms_est,
       |  (es.cms_est >= coalesce(t.true_cnt, 0)) AS never_under
       |FROM est es LEFT JOIN tru t ON es.ws = t.ws AND es.c_custkey = t.user_id
       |ORDER BY window_start, c_custkey""".stripMargin
  }

  /** q115: the NATIVE stateful banded-LSH admission operator
    * ([[graft.streaming.LshAdmit]], round 7 — q99's semantics as
    * flatMapGroupsWithState keyed on band keys with the corpus index as
    * initial state, verdicts folded by a watermarked windowed agg) run
    * in batch mode on q99's exact fixture. Event time = 1 s per doc id,
    * so the 10 s verdict windows are deterministic. The streaming hop —
    * state accumulating across real micro-batches, bounded by the index
    * size — is pinned in StreamingSpec; this row pins batch == DuckDB
    * through the SAME operator code.
    */
  def q115_lsh_admission(s: SparkSession, dir: String): DataFrame = {
    val (corpusSigs, deltaSigs) = ExtensionQueries7.q99Fixture(s, dir)
    graft.streaming.LshAdmit.admitStream(
        deltaSigs.withColumn("us", col("doc_id") * 1000000L), corpusSigs,
        bands = 16, minEstJ = 0.4)
      .orderBy(col("doc_id"))
  }

  val q115Sql: String =
    s"""WITH ${ExtensionQueries7.q99AdmissionCtes}
       |SELECT make_timestamp(((a.doc_id * 1000000) // 10000000) * 10000000) AS window_start,
       |  a.doc_id, (fd.dup_of IS NULL) AS keep, fd.dup_of
       |FROM allv a LEFT JOIN fd ON a.doc_id = fd.id_d
       |WHERE a.src = 1
       |ORDER BY a.doc_id""".stripMargin

  /** q119: LEFT-OUTER stream-stream interval join's batch formulation
    * ([[graft.streaming.StreamOps.eventWindowLeftJoin]]) — every event
    * annotated with each incident window covering it, or NULL when none
    * does (the coverage audit: 9599 of 10 000 sf0.01 events fall outside
    * every window). The probe side maps to exactly ONE time bucket so an
    * unmatched event emits exactly one NULL row; the window side explodes
    * to its ≤2 covering buckets. The streaming hop — NULL rows surfacing
    * only as the watermark expires join state — is pinned in
    * StreamingSpec; this row pins batch == DuckDB, where the oracle is
    * the bare left interval join with no bucket artifacts.
    */
  def q119_event_window_left(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.eventWindowLeftJoin(Tables.events(s, dir))
      .orderBy(col("ev_id"), col("window_id"))

  val q119Sql: String =
    """WITH w AS (
      |  SELECT event_id AS window_id, epoch_us(ts) AS w_us
      |  FROM events WHERE event_id % 200 = 0
      |)
      |SELECT e.event_id AS ev_id, e.user_id, w.window_id,
      |  epoch_us(e.ts) AS e_us, w.w_us
      |FROM events e LEFT JOIN w
      |  ON epoch_us(e.ts) >= w.w_us AND epoch_us(e.ts) <= w.w_us + 1800000000
      |ORDER BY ev_id, window_id""".stripMargin

  /** q123: the roles-swapped dual of q119
    * ([[graft.streaming.StreamOps.windowCoverageLeftJoin]]) — every
    * 5-minute incident window annotated with each event it covers
    * BESIDES its own opener, or NULL when it covers none: the
    * empty-window audit (18 of sf0.01's 50 windows see no other
    * traffic). Probe side here is the WINDOW (one start bucket), so the
    * event side explodes to the ≤2 buckets a covering window's start
    * could occupy — the same single-bucket-left geometry, mirrored.
    */
  def q123_window_coverage(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.windowCoverageLeftJoin(
        Tables.events(s, dir), windowMin = 5, excludeSelf = true)
      .orderBy(col("window_id"), col("ev_id"))

  val q123Sql: String =
    """WITH w AS (
      |  SELECT event_id AS window_id, epoch_us(ts) AS w_us
      |  FROM events WHERE event_id % 200 = 0
      |)
      |SELECT w.window_id, e.event_id AS ev_id, w.w_us, epoch_us(e.ts) AS e_us
      |FROM w LEFT JOIN events e
      |  ON epoch_us(e.ts) >= w.w_us AND epoch_us(e.ts) <= w.w_us + 300000000
      |  AND e.event_id <> w.window_id
      |ORDER BY window_id, ev_id""".stripMargin

  /** q143: the streaming daily-active-users pipeline's batch formulation —
    * per-(user, day) dedup feeding a tumbling daily count through the SAME
    * chained stateful operators the stream runs (watermark no-ops in
    * batch). The streaming hop — dedup state + window finalization across
    * real micro-batches, late re-deliveries dropped — is pinned in
    * StreamingSpec; this row pins batch == DuckDB.
    */
  def q143_stream_dau(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.dailyActiveUsers(Tables.events(s, dir), "1 hour")
      .orderBy(col("window_start"))

  val q143Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |)
      |SELECT make_timestamp(day * 86400000000) AS window_start,
      |  count(*) AS n_dau
      |FROM ud GROUP BY day ORDER BY window_start""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q115_lsh_admission", q115_lsh_admission _, q115Sql),
    Query("q119_event_window_left", q119_event_window_left _, q119Sql),
    Query("q123_window_coverage", q123_window_coverage _, q123Sql),
    Query("q98_stream_interval_join", q98_stream_interval_join _, q98Sql),
    Query("q108_stream_count_min", q108_stream_count_min _, q108Sql),
    Query("q46_spend_milestones", q46_spend_milestones _, q46Sql),
    Query("q52_stream_enrich", q52_stream_enrich _, q52Sql),
    Query("q56_tumbling_watermark", q56_tumbling_watermark _, q56Sql),
    Query("q62_purchase_attribution", q62_purchase_attribution _, q62Sql),
    Query("q65_sliding", q65_sliding _, q65Sql),
    Query("q66_session_window", q66_session_window _, q66Sql),
    Query("q143_stream_dau", q143_stream_dau _, q143Sql)
  )
}
