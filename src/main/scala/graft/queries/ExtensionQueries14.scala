package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 2: product-analytics event operators over real calendar
  * semantics, plus two engine-infrastructure operators.
  *
  *  - q133: weekly cohort retention triangle — THE product-analytics
  *    operator (every events warehouse runs it), calendar-native
  *    (Monday-aligned `date_trunc('week')` cohorts, not epoch buckets).
  *  - q134: rolling DAU / trailing-7-day WAU / stickiness — the rolling
  *    distinct-user engagement rung; exact, via a bounded 7-day fan-out
  *    instead of an unbounded RANGE window.
  *  - q135: per-column table profiler (the ANALYZE-TABLE / data-catalog
  *    primitive): null counts, exact NDV, min/max per column in ONE scan.
  *  - q136: feature-store user-profile materialization with field-level
  *    survivorship (latest value per event type) folded into a single
  *    user-keyed aggregation — no windows, no self-joins.
  */
object ExtensionQueries14 extends QueryGroup {

  // --------------------------------------------------------------- q133

  /** q133: weekly cohort retention. A user's cohort is the Monday-aligned
    * calendar week of their first event; for each (cohort, week offset)
    * the cell counts users from that cohort active in that week, plus the
    * cohort size and an integer-ppm retention rate. Weeks are REAL
    * calendar weeks (`date_trunc('week')` — Monday 00:00 in the pinned
    * UTC session), encoded cross-engine as days-since-epoch of the week's
    * Monday.
    *
    * Scale shape: (user, week) dedup is one exchange, scope-cached
    * there — the deduped frame (|users|×weeks, a tiny fraction of the
    * event log) feeds BOTH the first-week aggregate and the cohort
    * join, and without the cache Catalyst plans the firsts branch as a
    * second full events scan (exchange reuse does not fire across the
    * differing heads; same q131 lesson, caught by ExplainAudit).
    * CacheScope releases after the consuming action. The cells frame is
    * tiny (weeks × offsets), so the cohort-size window runs on KB of
    * data, partitioned by cohort — never a global window over rows.
    */
  def q133_cohort_retention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
    val weekStart = datediff(
      to_date(date_trunc("week", col("event_ts"))), to_date(lit("1970-01-01")))
    val uw = graft.core.CacheScope.scoped(
      e.select(col("user_id"), weekStart.cast("int").as("week_start")).distinct())
    val firsts = uw.groupBy(col("user_id"))
      .agg(min(col("week_start")).as("cohort_week"))
    val cells = uw.join(firsts, "user_id")
      .withColumn("week_offset",
        ((col("week_start") - col("cohort_week")) / 7).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val perCohort = Window.partitionBy(col("cohort_week"))
    cells
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active"))).over(perCohort))
      .withColumn("retention_ppm", expr("n_active * 1000000 div cohort_size"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q133Sql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    CAST(datediff('day', DATE '1970-01-01',
      |      CAST(date_trunc('week', ts) AS DATE)) AS INT) AS week_start
      |  FROM events
      |), firsts AS (
      |  SELECT user_id, min(week_start) AS cohort_week FROM uw GROUP BY user_id
      |), cells AS (
      |  SELECT cohort_week,
      |    CAST((week_start - cohort_week) // 7 AS INT) AS week_offset,
      |    count(*) AS n_active
      |  FROM uw JOIN firsts USING (user_id) GROUP BY 1, 2
      |), sized AS (
      |  SELECT cohort_week, week_offset, n_active,
      |    max(CASE WHEN week_offset = 0 THEN n_active END)
      |      OVER (PARTITION BY cohort_week) AS cohort_size
      |  FROM cells
      |)
      |SELECT cohort_week, week_offset, n_active, cohort_size,
      |  n_active * 1000000 // cohort_size AS retention_ppm
      |FROM sized ORDER BY cohort_week, week_offset""".stripMargin

  // --------------------------------------------------------------- q134

  /** q134: per-day active-user engagement — DAU, trailing-7-day WAU
    * (exact distinct users over [day−6, day]), and the DAU/WAU
    * "stickiness" ratio in integer ppm. The trailing distinct-count is
    * computed exactly by fanning each (user, active day) out to the ≤7
    * future days it keeps the user "weekly active" for, then deduping —
    * a BOUNDED ×7 row fan-out with map-side-combined counts, instead of
    * the unbounded RANGE window + count(distinct) Spark cannot partial-
    * aggregate. Days are exact integer epoch days from the LONG-nanos
    * event time.
    *
    * Scale shape: one (user, day) dedup exchange — scope-cached there
    * so the DAU and WAU branches share the single events scan (q131's
    * exchange-reuse lesson; CacheScope releases after the action) —
    * then one ×7 generate + second dedup, two day-keyed aggregates
    * joined on day (tiny post-agg frames; AQE broadcasts). Nothing is
    * O(window × rows).
    */
  def q134_rolling_active(s: SparkSession, dir: String): DataFrame = {
    val ud = graft.core.CacheScope.scoped(Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day")).distinct())
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("n_dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n_wau7"))
    dau.join(wau, "day") // inner: only days with any same-day activity
      .withColumn("stickiness_ppm", expr("n_dau * 1000000 div n_wau7"))
      .orderBy(col("day"))
  }

  val q134Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |), dau AS (
      |  SELECT day, count(*) AS n_dau FROM ud GROUP BY day
      |), fan AS (
      |  SELECT DISTINCT user_id, ud.day + o.o AS day
      |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) o
      |), wau AS (
      |  SELECT day, count(*) AS n_wau7 FROM fan GROUP BY day
      |)
      |SELECT day, n_dau, n_wau7, n_dau * 1000000 // n_wau7 AS stickiness_ppm
      |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin

  // --------------------------------------------------------------- q135

  /** Profiled columns and their cross-engine string canonicalization:
    * integral columns zero-pad to width 20 (lexicographic order ==
    * numeric order, so min/max read naturally), dates render ISO, and
    * categorical strings pass through. One entry per (name, SQL expr) —
    * the same expressions drive the Spark `stack` and the DuckDB mirror.
    */
  val ProfileCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "lpad(CAST(CAST(l_orderkey AS BIGINT) AS STRING), 20, '0')",
    "l_partkey" -> "lpad(CAST(CAST(l_partkey AS BIGINT) AS STRING), 20, '0')",
    "l_linenumber" -> "lpad(CAST(CAST(l_linenumber AS BIGINT) AS STRING), 20, '0')",
    "l_quantity" -> "lpad(CAST(CAST(l_quantity AS BIGINT) AS STRING), 20, '0')",
    "l_returnflag" -> "l_returnflag",
    "l_linestatus" -> "l_linestatus",
    "l_shipdate" -> "CAST(CAST(l_shipdate AS DATE) AS STRING)")

  /** q135: per-column table profile — the statistics pass behind ANALYZE
    * TABLE, data catalogs, and optimizer CBO stats: per column, the
    * non-null / null counts, EXACT distinct-value count, and min/max
    * (over the canonicalized string form above). All columns profile in
    * ONE table scan: `stack` pivots each row into (col_name, value)
    * pairs and a single (col_name)-keyed aggregation computes every
    * stat.
    *
    * Scale shape: the stack fan-out is ×|cols| (bounded, 7), then TWO
    * cheap aggregates instead of one expensive one: the full-data pass
    * groups by (col_name, value) with a pure-long count buffer — a
    * map-side-combined HashAggregate — and every stat (counts, exact
    * NDV, string min/max) derives from that NDV-sized distinct frame.
    * Folding the string min/max into the big aggregation instead would
    * force the whole 7× stack through SortAggregate (string agg buffers
    * are not hash-mutable: 3 full sorts, measured 6.6 s vs 2.4 s at
    * sf0.1). The scan stays single-pass, which is the point — profiling
    * 100 TB must not scan per column; q81's HLL is the sketch
    * alternative when exact NDV is not required.
    *
    * REGIME BOUND (round-11 10×-rung kc=0.93): EXACT NDV is Ω(n) by
    * contract — every value must reach the (col_name, value) aggregate
    * once (any value not hashed could be the one new distinct). The
    * linear term is the map-side-combined hash of the 7× stack fan-out;
    * the reduce side is NDV-sized, and l_orderkey's NDV grows ∝ n, so
    * the exchange itself tracks data size — per-row work end to end,
    * embarrassingly parallel, nothing quadratic. The passes are already
    * fused (one scan, long-buffer HashAggregate; the two-phase split is
    * the MEASURED optimum vs SortAggregate — see above). Sub-linear
    * profiling = q81's HLL sketch tier, at the cost of exactness.
    */
  def q135_table_profile(s: SparkSession, dir: String): DataFrame = {
    val stackArgs = ProfileCols
      .map { case (n, e) => s"'$n', $e" }
      .mkString(", ")
    Tables.lineitem(s, dir)
      .selectExpr(s"stack(${ProfileCols.size}, $stackArgs) AS (col_name, v)")
      .groupBy(col("col_name"), col("v"))
      .agg(count(lit(1)).as("cnt")) // long buffers only: stays HashAggregate
      .groupBy(col("col_name"))
      .agg(
        sum(when(col("v").isNotNull, col("cnt")).otherwise(0L)).as("n_nonnull"),
        sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_null"),
        count(col("v")).as("ndv"), // rows here are distinct values
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .orderBy(col("col_name"))
  }

  val q135Sql: String = {
    val branches = ProfileCols
      .map { case (n, e) =>
        s"SELECT '$n' AS col_name, ${e.replace(" AS STRING", " AS VARCHAR")} AS v FROM lineitem"
      }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH stacked AS (
       |  $branches
       |)
       |SELECT col_name,
       |  count(v) AS n_nonnull,
       |  count(*) - count(v) AS n_null,
       |  count(DISTINCT v) AS ndv,
       |  min(v) AS min_v,
       |  max(v) AS max_v
       |FROM stacked GROUP BY col_name ORDER BY col_name""".stripMargin
  }

  // --------------------------------------------------------------- q136

  /** q136: feature-store user-profile materialization — the wide
    * per-entity feature snapshot an online store serves (counts, sums,
    * first/last timestamps, and the VALUE AT the latest event of a type:
    * field-level survivorship, "most recent wins, ties broken by
    * event_id"). The latest-value fields fold into the SAME single
    * aggregation as the counts via conditional max over (ts, event_id,
    * value) structs — Spark orders structs lexicographically, so the max
    * struct IS the latest row and `.getField` projects its value. No
    * row_number window, no per-field self-joins.
    *
    * Scale shape: ONE user-keyed two-phase aggregate over the events
    * scan — map-side combined (a struct max merges like any max), one
    * exchange total, and the exchange carries one partial row per user
    * per partition. The struct/string buffers are not hash-mutable, so
    * both phases plan as SortAggregate — a LOCAL per-partition sort,
    * accepted deliberately: the hash-friendly alternatives either scan
    * events twice (max-ts pass + value join-back) or shuffle the full
    * log once per field (per-field windows/self-joins), and props is a
    * string either way. One scan + one post-agg exchange wins at scale.
    */
  def q136_user_profile(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
    def latestOf(et: String, v: Column): Column =
      max(when(col("event_type") === et,
        struct(col("ts").as("ts"), col("event_id").as("eid"), v.as("v"))))
    e.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        sum(when(col("event_type") === "purchase", col("cents")).otherwise(0L))
          .as("purchase_cents"),
        min(when(col("event_type") === "signup", col("ts"))).as("first_signup_ts"),
        max(when(col("event_type") === "click", col("ts"))).as("last_click_ts"),
        latestOf("purchase", col("cents")).getField("v").as("last_purchase_cents"),
        latestOf("error", col("props")).getField("v").as("last_error_props"))
      .orderBy(col("user_id"))
  }

  val q136Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) * 1000 AS ts,
      |    CAST(round(value * 100) AS BIGINT) AS cents, props
      |  FROM events
      |), ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM e
      |), base AS (
      |  SELECT user_id, count(*) AS n_events,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_purchases,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS BIGINT)
      |      AS purchase_cents,
      |    min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup_ts,
      |    max(CASE WHEN event_type = 'click' THEN ts END) AS last_click_ts
      |  FROM e GROUP BY user_id
      |), latest AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND rn = 1 THEN cents END)
      |      AS last_purchase_cents,
      |    max(CASE WHEN event_type = 'error' AND rn = 1 THEN props END)
      |      AS last_error_props
      |  FROM ranked GROUP BY user_id
      |)
      |SELECT user_id, n_events, n_purchases, purchase_cents, first_signup_ts,
      |  last_click_ts, last_purchase_cents, last_error_props
      |FROM base LEFT JOIN latest USING (user_id) ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q133_cohort_retention", q133_cohort_retention _, q133Sql),
    Query("q134_rolling_active", q134_rolling_active _, q134Sql),
    Query("q135_table_profile", q135_table_profile _, q135Sql),
    Query("q136_user_profile", q136_user_profile _, q136Sql)
  )
}
