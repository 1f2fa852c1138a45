package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 26: growth accounting, dedup pipeline observability,
  * seasonality indexing — exact-integer, DuckDB-oracle-gated.
  *
  *  - q207: weekly growth accounting — every active user classified
  *    new / retained / resurrected, plus churn, with conservation
  *    identities.
  *  - q208: dedup waterfall — per-source survival through the exact
  *    and near-dup stages, the pipeline-health readout over q25/q42.
  *  - q209: weekday seasonality index — mean-normalized integer index
  *    per event type.
  */
object ExtensionQueries38 extends QueryGroup {

  // --------------------------------------------------------------- q207

  /** q207: weekly growth accounting (the Social Capital framework) —
    * each week's active users split EXACTLY into new (first-ever active
    * week), retained (also active the prior week), and resurrected
    * (active before, but not last week); churned counts users active
    * last week who vanished this week. Conservation —
    * `active = new + retained + resurrected` — is structural (the three
    * cases partition the actives) and spec-pinned.
    *
    * Scale shape: one events scan feeds the (user, week) dedup and the
    * per-user first-week fold; retained/churned come from a
    * user-co-partitioned self-join on week−1; the report is a
    * week-keyed aggregate. No windows over raw events.
    */
  def q207_growth_accounting(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400000000L
    val uw = Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts div 1000 div $weekUs").as("week"))
      .distinct()
    val first = uw.groupBy(col("user_id")).agg(min(col("week")).as("fweek"))
    val prev = uw.select(col("user_id"), (col("week") + 1).as("week"),
      lit(1L).as("was_prev"))
    val classified = uw.join(first, "user_id")
      .join(prev, Seq("user_id", "week"), "left")
      .select(col("week"),
        when(col("week") === col("fweek"), 1L).otherwise(0L).as("is_new"),
        when(col("week") =!= col("fweek") && col("was_prev").isNotNull, 1L)
          .otherwise(0L).as("is_retained"),
        when(col("week") =!= col("fweek") && col("was_prev").isNull, 1L)
          .otherwise(0L).as("is_resurrected"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("active"), sum(col("is_new")).as("new_users"),
        sum(col("is_retained")).as("retained"),
        sum(col("is_resurrected")).as("resurrected"))
    // churned(w) = active(w-1) - retained(w): prior-week users not seen now
    val churn = classified.select((col("week") + 1).as("week"),
      col("active").as("prev_active"))
    classified.join(churn, Seq("week"), "left")
      .select(col("week"), col("active"), col("new_users"), col("retained"),
        col("resurrected"),
        coalesce(col("prev_active") - col("retained"), lit(0L))
          .as("churned"))
      .orderBy(col("week"))
  }

  val q207Sql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
      |  FROM events
      |), f AS (
      |  SELECT user_id, min(week) AS fweek FROM uw GROUP BY user_id
      |), cl AS (
      |  SELECT uw.week,
      |    CASE WHEN uw.week = f.fweek THEN 1 ELSE 0 END AS is_new,
      |    CASE WHEN uw.week <> f.fweek AND p.user_id IS NOT NULL
      |      THEN 1 ELSE 0 END AS is_retained,
      |    CASE WHEN uw.week <> f.fweek AND p.user_id IS NULL
      |      THEN 1 ELSE 0 END AS is_resurrected
      |  FROM uw JOIN f ON uw.user_id = f.user_id
      |  LEFT JOIN uw p ON p.user_id = uw.user_id AND p.week = uw.week - 1
      |), agg AS (
      |  SELECT week, count(*) AS active,
      |    CAST(sum(is_new) AS BIGINT) AS new_users,
      |    CAST(sum(is_retained) AS BIGINT) AS retained,
      |    CAST(sum(is_resurrected) AS BIGINT) AS resurrected
      |  FROM cl GROUP BY week
      |)
      |SELECT a.week, a.active, a.new_users, a.retained, a.resurrected,
      |  CAST(COALESCE(p.active - a.retained, 0) AS BIGINT) AS churned
      |FROM agg a LEFT JOIN agg p ON p.week = a.week - 1
      |ORDER BY a.week""".stripMargin

  // --------------------------------------------------------------- q208

  /** q208: dedup waterfall — per source: raw documents, survivors of
    * EXACT text dedup (first doc_id per identical text wins, q25's
    * rule), survivors of NEAR-dup clustering (the q42 cluster
    * representative wins), and each stage's survival rate in ppm. The
    * pipeline-health readout: how much of each source the dedup tiers
    * actually remove.
    *
    * Scale shape: exact stage is one text-keyed min fold; near stage
    * reuses q42's banded-LSH clusters (never all-pairs); all three
    * counts meet in a source-keyed aggregate. Rates are exact ppm.
    */
  def q208_dedup_waterfall(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val exactKeep = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"))
      .select(col("keep_id"))
    val nearKeep = ExtensionQueries2.q42ClustersStaged(s, dir)
      .filter(col("id") === col("rep")).select(col("id").as("near_id"))
    docs
      .join(exactKeep, col("doc_id") === col("keep_id"), "left")
      .join(nearKeep, col("doc_id") === col("near_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("keep_id").isNotNull, 1L).otherwise(0L))
          .as("n_after_exact"),
        sum(when(col("keep_id").isNotNull && col("near_id").isNotNull, 1L)
          .otherwise(0L)).as("n_after_near"))
      .select(col("source"), col("n_raw"), col("n_after_exact"),
        col("n_after_near"),
        expr("n_after_exact * 1000000 div n_raw").as("exact_keep_ppm"),
        expr("n_after_near * 1000000 div n_raw").as("near_keep_ppm"))
      .orderBy(col("source"))
  }

  val q208Sql: String =
    s"""${ExtensionQueries2.q42ClusterCtes},
       |docs AS (
       |  SELECT doc_id, source FROM documents
       |), ek AS (
       |  SELECT min(doc_id) AS keep_id FROM documents GROUP BY text
       |), nk AS (
       |  SELECT id AS near_id FROM lbl WHERE id = rep
       |)
       |SELECT source, count(*) AS n_raw,
       |  CAST(sum(CASE WHEN keep_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_after_exact,
       |  CAST(sum(CASE WHEN keep_id IS NOT NULL AND near_id IS NOT NULL
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_after_near,
       |  CAST(sum(CASE WHEN keep_id IS NOT NULL THEN 1 ELSE 0 END)
       |    * 1000000 // count(*) AS BIGINT) AS exact_keep_ppm,
       |  CAST(sum(CASE WHEN keep_id IS NOT NULL AND near_id IS NOT NULL
       |    THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
       |    AS near_keep_ppm
       |FROM docs
       |LEFT JOIN ek ON doc_id = keep_id
       |LEFT JOIN nk ON doc_id = near_id
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q209

  /** q209: weekday seasonality index per event type — each (type,
    * ISO weekday) cell's daily-rate index against the type's overall
    * daily rate, in exact ppm (10⁶ = flat). Computed from counts and
    * day-of-week day tallies so no float rate ever forms:
    * `index = (cnt·n_days_total·10⁶) div (total·n_days_dow)`.
    *
    * Scale shape: one events pass → (type, dow) counts; day tallies
    * come from the tiny distinct-days frame; totals broadcast. The
    * q140 anomaly detector's baseline, exposed as its own report.
    */
  def q209_weekday_index(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val e = Tables.events(s, dir)
      .select(col("event_type"), expr(s"ts div 1000 div $dayUs").as("day"))
      .withColumn("dow", expr("(day + 4) % 7")) // 1970-01-01 was Thursday
    val cells = e.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("cnt"))
    val totals = e.groupBy(col("event_type")).agg(count(lit(1)).as("total"))
    val days = e.select(col("day"), col("dow")).distinct()
    val dowDays = days.groupBy(col("dow")).agg(count(lit(1)).as("n_days_dow"))
    val nDays = days.agg(count(lit(1)).as("n_days_total"))
    cells.join(broadcast(totals), "event_type")
      .join(broadcast(dowDays), "dow")
      .crossJoin(broadcast(nDays))
      .select(col("event_type"), col("dow"), col("cnt"),
        expr("cnt * n_days_total * 1000000 div (total * n_days_dow)")
          .as("index_ppm"))
      .orderBy(col("event_type"), col("dow"))
  }

  val q209Sql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow
      |  FROM events
      |), cells AS (
      |  SELECT event_type, dow, count(*) AS cnt
      |  FROM e GROUP BY event_type, dow
      |), t AS (
      |  SELECT event_type, count(*) AS total FROM e GROUP BY event_type
      |), days AS (
      |  SELECT DISTINCT day, dow FROM e
      |), dd AS (
      |  SELECT dow, count(*) AS n_days_dow FROM days GROUP BY dow
      |), nd AS (SELECT count(*) AS n_days_total FROM days)
      |SELECT cells.event_type, cells.dow, cnt,
      |  CAST(cnt * n_days_total * 1000000 // (total * n_days_dow)
      |    AS BIGINT) AS index_ppm
      |FROM cells
      |JOIN t ON cells.event_type = t.event_type
      |JOIN dd ON cells.dow = dd.dow, nd
      |ORDER BY cells.event_type, cells.dow""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q207_growth_accounting", q207_growth_accounting _, q207Sql),
    Query("q208_dedup_waterfall", q208_dedup_waterfall _, q208Sql),
    Query("q209_weekday_index", q209_weekday_index _, q209Sql)
  )
}
