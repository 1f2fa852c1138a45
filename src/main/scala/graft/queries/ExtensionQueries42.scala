package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 30: burst detection, revenue retention, and payment
  * fraud — exact-integer, DuckDB-oracle-gated.
  *
  *  - q219: trending pages — last-hour rate vs trailing-baseline rate.
  *  - q220: net revenue retention — the SaaS NDR readout per month.
  *  - q221: duplicate payment detection — same user, same amount,
  *    within 5 minutes.
  */
object ExtensionQueries42 extends QueryGroup {

  // --------------------------------------------------------------- q219

  /** q219: trending pages — pages whose LAST-hour view rate runs above
    * their trailing-24-hour baseline rate, lift in exact ppm (hour
    * count · 24 cross-multiplied against baseline count — no float
    * rate). "Last hour" anchors at the table's max timestamp, so the
    * report is deterministic. Pages with a zero baseline report lift
    * −1 (new-entry sentinel) rather than dividing by zero. Top 10 by
    * lift.
    *
    * Scale shape: the anchor is a 1-row max broadcast; both windows
    * read ONE filtered pass over the last 25 hours (partition-prunable
    * by any time-partitioned layout); counts are page-keyed;
    * TakeOrderedAndProject.
    */
  def q219_trending_pages(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val e = Tables.events(s, dir)
      .select(get_json_object(col("props"), "$.k").try_cast("long")
        .as("page"), expr("ts div 1000").as("us"))
      .filter(col("page").isNotNull)
    val anchor = e.agg(max(col("us")).as("mx"))
    val counts = e.crossJoin(broadcast(anchor))
      .filter(col("us") > col("mx") - lit(25L * hourUs))
      .groupBy(col("page"))
      .agg(sum(when(col("us") > col("mx") - lit(hourUs), 1L).otherwise(0L))
        .as("n_hour"),
        sum(when(col("us") <= col("mx") - lit(hourUs), 1L).otherwise(0L))
          .as("n_base"))
    counts
      .select(col("page"), col("n_hour"), col("n_base"),
        when(col("n_base") === 0L, lit(-1L))
          .otherwise(expr("n_hour * 24 * 1000000 div n_base"))
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("page"))
      .limit(10)
  }

  val q219Sql: String =
    """WITH e AS (
      |  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
      |    AS page, epoch_us(ts) AS us
      |  FROM events
      |  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
      |    IS NOT NULL
      |), a AS (SELECT max(us) AS mx FROM e
      |), c AS (
      |  SELECT page,
      |    CAST(sum(CASE WHEN us > mx - 3600000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_hour,
      |    CAST(sum(CASE WHEN us <= mx - 3600000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_base
      |  FROM e, a
      |  WHERE us > mx - 90000000000
      |  GROUP BY page
      |)
      |SELECT page, n_hour, n_base,
      |  CASE WHEN n_base = 0 THEN -1
      |    ELSE CAST(n_hour * 24 * 1000000 // n_base AS BIGINT) END
      |    AS lift_ppm
      |FROM c
      |ORDER BY lift_ppm DESC, page
      |LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q220

  /** q220: net revenue retention per ISO month pair — of the users who
    * purchased in month m−1 (the base cohort with base revenue r₁),
    * what do THE SAME USERS spend in month m (r₂)? NDR = r₂/r₁ in
    * exact ppm per consecutive month pair. Above 10⁶ means expansion
    * beats churn — the SaaS health metric q196's LTV curve cannot
    * express (NDR tracks the SAME dollars forward).
    *
    * Scale shape: one purchases pass → (user, month) revenue; the
    * month-pair join is user-co-partitioned on (user, month−1); the
    * report is a month-keyed fold.
    */
  def q220_net_revenue_retention(s: SparkSession, dir: String): DataFrame = {
    val monthUs = 30L * 86400000000L // calendar-free 30-day months, exact
    val um = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr(s"ts div 1000 div $monthUs").as("month"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"), col("month"))
      .agg(sum(col("cents")).as("cents"))
    val next = um.select(col("user_id"), (col("month") + 1).as("month"),
      col("cents").as("base_cents"))
    next.join(um, Seq("user_id", "month"), "left")
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_base_users"),
        sum(col("base_cents")).as("base_cents"),
        sum(coalesce(col("cents"), lit(0L))).as("retained_cents"))
      .select(col("month"), col("n_base_users"), col("base_cents"),
        col("retained_cents"),
        expr("retained_cents * 1000000 div base_cents").as("ndr_ppm"))
      .orderBy(col("month"))
  }

  val q220Sql: String =
    """WITH um AS (
      |  SELECT user_id, epoch_us(ts) // 2592000000000 AS month,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, month
      |), nx AS (
      |  SELECT user_id, month + 1 AS month, cents AS base_cents FROM um
      |)
      |SELECT nx.month, count(*) AS n_base_users,
      |  CAST(sum(base_cents) AS BIGINT) AS base_cents,
      |  CAST(sum(COALESCE(um.cents, 0)) AS BIGINT) AS retained_cents,
      |  CAST(sum(COALESCE(um.cents, 0)) * 1000000 // sum(base_cents)
      |    AS BIGINT) AS ndr_ppm
      |FROM nx LEFT JOIN um
      |  ON nx.user_id = um.user_id AND nx.month = um.month
      |GROUP BY nx.month
      |ORDER BY nx.month""".stripMargin

  // --------------------------------------------------------------- q221

  /** q221: duplicate payment detection — purchase PAIRS by the same
    * user for the same whole-dollar amount within 24 hours (the
    * double-charge / retried-checkout fingerprint; cent-exact repeats
    * within minutes are the degenerate case of the same screen). Each
    * unordered pair reported once (earlier event first; ties by event
    * id); top 50 by gap ascending. The fraud screen beside q218's
    * behavioral flags.
    *
    * Scale shape: self-join co-partitioned on (user, dollars) — the
    * equality keys — with the 24-hour range as a residual; candidate
    * sets are per-user-per-amount, so the pair fan-out is bounded by
    * duplicate density, never |purchases|².
    */
  def q221_duplicate_payments(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
        expr("CAST(round(value * 100) AS LONG) div 100").as("dollars"))
    val a = p.select(col("user_id"), col("dollars"),
      col("event_id").as("id_a"), col("us").as("us_a"))
    val b = p.select(col("user_id"), col("dollars"),
      col("event_id").as("id_b"), col("us").as("us_b"))
    a.join(b, Seq("user_id", "dollars"))
      .filter((col("us_a") < col("us_b") ||
        (col("us_a") === col("us_b") && col("id_a") < col("id_b"))) &&
        col("us_b") - col("us_a") <= 86400000000L)
      .select(col("user_id"), col("dollars"), col("id_a"), col("id_b"),
        (col("us_b") - col("us_a")).as("gap_us"))
      .orderBy(col("gap_us"), col("user_id"), col("id_a"), col("id_b"))
      .limit(50)
  }

  val q221Sql: String =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(round(value * 100) AS BIGINT) // 100 AS dollars
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT a.user_id, a.dollars, a.event_id AS id_a, b.event_id AS id_b,
      |  b.us - a.us AS gap_us
      |FROM p a JOIN p b
      |  ON a.user_id = b.user_id AND a.dollars = b.dollars
      |  AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
      |  AND b.us - a.us <= 86400000000
      |ORDER BY gap_us, a.user_id, id_a, id_b
      |LIMIT 50""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q219_trending_pages", q219_trending_pages _, q219Sql),
    Query("q220_net_revenue_retention", q220_net_revenue_retention _, q220Sql),
    Query("q221_duplicate_payments", q221_duplicate_payments _, q221Sql)
  )
}
