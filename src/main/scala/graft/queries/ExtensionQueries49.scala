package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 37: experiment retention readout, distribution
  * distance, and reliability analytics — exact-integer,
  * DuckDB-oracle-gated.
  *
  *  - q240: A/B retention — D1/D7 per variant with the exact
  *    chi-square significance verdict per offset.
  *  - q241: total-variation distance of doc-length distributions per
  *    source vs the corpus.
  *  - q242: error-recovery rate — errors followed by activity within
  *    a minute vs abandoned.
  */
object ExtensionQueries49 extends QueryGroup {

  // --------------------------------------------------------------- q240

  /** q240: A/B retention readout — q182's Day-N retention split by the
    * user-parity variant, with q181's exact chi-square machinery
    * deciding, PER OFFSET, whether the variant gap is significant at
    * 5%: `N·(ad−bc)²·10⁶ > 3841459·R₁R₂C₁C₂` in DECIMAL(38) vs
    * HUGEINT. The experiment readout that closes the loop between the
    * retention tier and the significance tier — a retention gap without
    * the verdict is a graph, not a decision.
    *
    * Scale shape: one events scan → first-signup fold + (user, day)
    * dedup; per (variant, offset) retention cells fold from the same
    * join; the chi-square is a per-offset 1-row decimal projection.
    */
  def q240_ab_retention(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr(s"ts div 1000 div $dayUs").as("day"))
    val signups = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("day")).as("s_day"))
      .select(col("user_id"), col("s_day"),
        (col("user_id") % 2).as("variant"))
    val active = e.select(col("user_id"), col("day")).distinct()
    val offsets = s.createDataFrame(Seq(Tuple1(1L), Tuple1(7L)))
      .toDF("day_n")
    val retainedRaw = signups.join(broadcast(offsets))
      .join(active, Seq("user_id"))
      .where(col("day") === col("s_day") + col("day_n"))
      .select(col("day_n"), col("variant"), col("user_id")).distinct()
      .groupBy(col("day_n"), col("variant"))
      .agg(count(lit(1)).as("n_ret0"))
    val cohorts = signups.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_cohort"))
    // full (offset × variant) grid — a variant retaining NOBODY at an
    // offset is a zero cell, not a missing row (its absence would
    // degenerate the 2×2 margins)
    val retained = offsets.crossJoin(cohorts.select(col("variant")))
      .join(retainedRaw, Seq("day_n", "variant"), "left")
      .withColumn("n_ret", coalesce(col("n_ret0"), lit(0L)))
    retained.join(broadcast(cohorts), "variant")
      .groupBy(col("day_n"))
      .agg(
        sum(when(col("variant") === 0, col("n_ret")).otherwise(0L)).as("a"),
        sum(when(col("variant") === 0, col("n_cohort") - col("n_ret"))
          .otherwise(0L)).as("b"),
        sum(when(col("variant") === 1, col("n_ret")).otherwise(0L)).as("c"),
        sum(when(col("variant") === 1, col("n_cohort") - col("n_ret"))
          .otherwise(0L)).as("d"))
      .select(col("day_n"), col("a"), col("b"), col("c"), col("d"),
        expr("a * 1000000 div (a + b)").as("ret0_ppm"),
        expr("c * 1000000 div (c + d)").as("ret1_ppm"),
        (expr("""CAST(a + b + c + d AS DECIMAL(20,0))
            * CAST(a*d - b*c AS DECIMAL(20,0))
            * CAST(a*d - b*c AS DECIMAL(20,0)) * 1000000""") >
          expr("""CAST(3841459 AS DECIMAL(20,0))
            * CAST(a+b AS DECIMAL(20,0)) * CAST(c+d AS DECIMAL(20,0))
            * CAST(a+c AS DECIMAL(20,0)) * CAST(b+d AS DECIMAL(20,0))"""))
          .as("significant"))
      .orderBy(col("day_n"))
  }

  val q240Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |), su AS (
      |  SELECT user_id, min(day) AS s_day, user_id % 2 AS variant
      |  FROM e WHERE event_type = 'signup' GROUP BY user_id
      |), act AS (SELECT DISTINCT user_id, day FROM e
      |), offs AS (SELECT CAST(unnest([1, 7]) AS BIGINT) AS day_n
      |), ret0 AS (
      |  SELECT day_n, variant, count(DISTINCT su.user_id) AS n_ret0
      |  FROM su CROSS JOIN offs
      |  JOIN act ON act.user_id = su.user_id
      |    AND act.day = su.s_day + offs.day_n
      |  GROUP BY day_n, variant
      |), co AS (
      |  SELECT variant, count(*) AS n_cohort FROM su GROUP BY variant
      |), ret AS (
      |  SELECT offs.day_n, co.variant,
      |    CAST(COALESCE(n_ret0, 0) AS BIGINT) AS n_ret
      |  FROM offs CROSS JOIN co
      |  LEFT JOIN ret0 ON ret0.day_n = offs.day_n
      |    AND ret0.variant = co.variant
      |), cells AS (
      |  SELECT day_n,
      |    CAST(sum(CASE WHEN ret.variant = 0 THEN n_ret ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN ret.variant = 0 THEN n_cohort - n_ret
      |      ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN ret.variant = 1 THEN n_ret ELSE 0 END)
      |      AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN ret.variant = 1 THEN n_cohort - n_ret
      |      ELSE 0 END) AS BIGINT) AS d
      |  FROM ret JOIN co ON ret.variant = co.variant
      |  GROUP BY day_n
      |)
      |SELECT day_n, a, b, c, d,
      |  CAST(a * 1000000 // (a + b) AS BIGINT) AS ret0_ppm,
      |  CAST(c * 1000000 // (c + d) AS BIGINT) AS ret1_ppm,
      |  CAST(a + b + c + d AS HUGEINT) * CAST(a*d - b*c AS HUGEINT)
      |    * CAST(a*d - b*c AS HUGEINT) * 1000000
      |    > 3841459 * CAST(a+b AS HUGEINT) * CAST(c+d AS HUGEINT)
      |      * CAST(a+c AS HUGEINT) * CAST(b+d AS HUGEINT)
      |    AS significant
      |FROM cells
      |ORDER BY day_n""".stripMargin

  // --------------------------------------------------------------- q241

  /** q241: total-variation distance of doc-length distributions — each
    * source's 10-bucket length histogram against the corpus-wide one,
    * `TVD = ½ Σ_b |p_b − q_b|` in exact ppm (the ½ folds into the ppm
    * arithmetic: `Σ|p−q| · 500000`-style cross-multiplication with both
    * denominators cleared). The binned distribution distance beside
    * q167's KS (sup) and q183's QQ (where): which SOURCES ship atypical
    * length profiles.
    *
    * Scale shape: one documents pass → (source, bucket) counts; corpus
    * buckets re-aggregate the cell frame; the per-source fold clears
    * both denominators with cross-multiplied integers
    * (`|cnt·T − corpus·S| ...`), so no float share ever forms.
    */
  def q241_length_tvd(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("source"), least(expr("n_chars div 64"), lit(9L)).as("b"))
    val cells = d.groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    val corpus = cells.groupBy(col("b")).agg(sum(col("cnt")).as("ccnt"))
    val srcTot = cells.groupBy(col("source")).agg(sum(col("cnt")).as("st"))
    val tot = d.agg(count(lit(1)).as("t"))
    // full (source × bucket) grid so absent buckets carry their mass
    val grid = srcTot.select(col("source"), col("st"))
      .crossJoin(broadcast(corpus))
      .join(cells, Seq("source", "b"), "left")
      .withColumn("o", coalesce(col("cnt"), lit(0L)))
    grid.crossJoin(broadcast(tot))
      .groupBy(col("source"), col("st"), col("t"))
      .agg(sum(abs(col("o") * col("t") - col("ccnt") * col("st")))
        .as("num"))
      .select(col("source"),
        expr("num * 500000 div (st * t)").as("tvd_ppm"))
      .orderBy(col("source"))
  }

  val q241Sql: String =
    """WITH d AS (
      |  SELECT source, least(n_chars // 64, 9) AS b FROM documents
      |), cells AS (
      |  SELECT source, b, count(*) AS cnt FROM d GROUP BY source, b
      |), corpus AS (
      |  SELECT b, CAST(sum(cnt) AS BIGINT) AS ccnt FROM cells GROUP BY b
      |), st AS (
      |  SELECT source, CAST(sum(cnt) AS BIGINT) AS st FROM cells
      |  GROUP BY source
      |), t AS (SELECT count(*) AS t FROM d
      |), grid AS (
      |  SELECT st.source, st.st, corpus.b, corpus.ccnt,
      |    CAST(COALESCE(cnt, 0) AS BIGINT) AS o
      |  FROM st CROSS JOIN corpus
      |  LEFT JOIN cells ON cells.source = st.source AND cells.b = corpus.b
      |)
      |SELECT source,
      |  CAST(sum(abs(o * t - ccnt * st)) * 500000 // (st * t) AS BIGINT)
      |    AS tvd_ppm
      |FROM grid, t
      |GROUP BY source, st, t
      |ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q242

  /** q242: error-recovery rate — of each user's error events, how many
    * are followed by ANY non-error event of the same user within 60
    * seconds (recovered) vs not (abandoned), per hour of day. The
    * reliability readout that separates "errors users shrug off" from
    * "errors that end sessions".
    *
    * Scale shape: one user-partitioned window pass — the lead over
    * (us, event_id) yields the next event's type/time, so recovery is
    * a projection, not a join; the report is an hour-keyed fold.
    */
  def q242_error_recovery(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
    e.filter(col("event_type") === "error")
      .select(expr("us div 3600000000 % 24").as("hour_of_day"),
        when(col("next_us").isNotNull &&
          col("next_us") - col("us") <= 60000000L &&
          col("next_type") =!= "error", 1L).otherwise(0L).as("recovered"))
      .groupBy(col("hour_of_day"))
      .agg(count(lit(1)).as("n_errors"), sum(col("recovered")).as("n_recovered"))
      .select(col("hour_of_day"), col("n_errors"), col("n_recovered"),
        expr("n_recovered * 1000000 div n_errors").as("recovery_ppm"))
      .orderBy(col("hour_of_day"))
  }

  val q242Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    lead(epoch_us(ts), 1) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS next_us,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS next_type
      |  FROM events
      |)
      |SELECT us // 3600000000 % 24 AS hour_of_day, count(*) AS n_errors,
      |  CAST(sum(CASE WHEN next_us IS NOT NULL
      |    AND next_us - us <= 60000000 AND next_type <> 'error'
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
      |  CAST(sum(CASE WHEN next_us IS NOT NULL
      |    AND next_us - us <= 60000000 AND next_type <> 'error'
      |    THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
      |    AS recovery_ppm
      |FROM e
      |WHERE event_type = 'error'
      |GROUP BY hour_of_day
      |ORDER BY hour_of_day""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q240_ab_retention", q240_ab_retention _, q240Sql),
    Query("q241_length_tvd", q241_length_tvd _, q241Sql),
    Query("q242_error_recovery", q242_error_recovery _, q242Sql)
  )
}
