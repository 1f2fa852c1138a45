package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 36: audience stability, capacity headroom, and
  * association structure — exact-integer, DuckDB-oracle-gated.
  *
  *  - q237: day-over-day active-set stability via bitmap Jaccard.
  *  - q238: hourly load factor per event type.
  *  - q239: signed φ² association matrix between event types.
  */
object ExtensionQueries48 extends QueryGroup {

  // --------------------------------------------------------------- q237

  /** q237: day-over-day active-user stability — for each consecutive
    * day pair, the EXACT Jaccard of the two days' active-user sets via
    * the q174/q191/q204 bitmap algebra (word-wise AND/OR + popcount on
    * one LONG per 64 users), plus both day sizes. A collapsing Jaccard
    * flags audience churn or an instrumentation break long before
    * totals move.
    *
    * Scale shape: one events pass → (day, word) bitmaps; the day-pair
    * algebra joins the BITMAP frame to itself on (day+1, word) —
    * co-partitioned, sized by days×words, independent of event count.
    */
  def q237_dau_stability(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val bm = Tables.events(s, dir)
      .select(expr(s"ts div 1000 div $dayUs").as("day"),
        expr("user_id div 64").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))")
          .as("mask"))
      .groupBy(col("day"), col("word"))
      .agg(expr("bit_or(mask)").as("bits"))
    val nxt = bm.select((col("day") - 1).as("day"), col("word"),
      col("bits").as("bits_next"))
    bm.join(nxt, Seq("day", "word"), "full_outer")
      .filter(col("day").isNotNull)
      .groupBy(col("day"))
      .agg(
        sum(expr("bit_count(coalesce(bits, 0) & coalesce(bits_next, 0))"))
          .cast("long").as("n_both"),
        sum(expr("bit_count(coalesce(bits, 0) | coalesce(bits_next, 0))"))
          .cast("long").as("n_union"),
        sum(expr("bit_count(coalesce(bits, 0))")).cast("long").as("n_today"),
        sum(expr("bit_count(coalesce(bits_next, 0))")).cast("long")
          .as("n_tomorrow"))
      .filter(col("n_tomorrow") > 0 && col("n_today") > 0)
      .select(col("day"), col("n_today"), col("n_tomorrow"), col("n_both"),
        expr("n_both * 1000000 div n_union").as("jaccard_ppm"))
      .orderBy(col("day"))
  }

  val q237Sql: String =
    """WITH uw AS (
      |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
      |  FROM events
      |), c AS (
      |  SELECT day, count(*) AS n FROM uw GROUP BY day
      |), i AS (
      |  SELECT a.day, count(*) AS nb
      |  FROM uw a JOIN uw b
      |    ON a.user_id = b.user_id AND b.day = a.day + 1
      |  GROUP BY a.day
      |)
      |SELECT ca.day, ca.n AS n_today, cb.n AS n_tomorrow,
      |  CAST(COALESCE(nb, 0) AS BIGINT) AS n_both,
      |  CAST(COALESCE(nb, 0) * 1000000
      |    // (ca.n + cb.n - COALESCE(nb, 0)) AS BIGINT) AS jaccard_ppm
      |FROM c ca
      |JOIN c cb ON cb.day = ca.day + 1
      |LEFT JOIN i ON i.day = ca.day
      |ORDER BY ca.day""".stripMargin

  // --------------------------------------------------------------- q238

  /** q238: hourly load factor per event type — the peak hour's event
    * count against the mean hourly count, in exact ppm
    * (`peak·n_hours·10⁶ div total`), plus the peak hour itself. The
    * capacity-planning headline: provisioning for mean instead of peak
    * is exactly this ratio wrong.
    *
    * Scale shape: one events pass → (type, hour) counts; peak is a
    * struct-max fold per type (deterministic: count desc then earlier
    * hour); the hour calendar is global so types are comparable.
    */
  def q238_load_factor(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val cells = Tables.events(s, dir)
      .select(col("event_type"), expr(s"ts div 1000 div $hourUs").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("cnt"))
    val hours = cells.select(col("hour")).distinct()
      .agg(count(lit(1)).as("n_hours"))
    cells.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("total"),
        min(struct((-col("cnt")).as("nc"), col("hour").as("h"))).as("pk"))
      .crossJoin(broadcast(hours))
      .select(col("event_type"), col("total"),
        (-col("pk.nc")).as("peak_count"), col("pk.h").as("peak_hour"),
        expr("(-pk.nc) * n_hours * 1000000 div total").as("load_factor_ppm"))
      .orderBy(col("event_type"))
  }

  val q238Sql: String =
    """WITH cells AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
      |    count(*) AS cnt
      |  FROM events GROUP BY event_type, hour
      |), nh AS (
      |  SELECT count(DISTINCT hour) AS n_hours FROM cells
      |), rk AS (
      |  SELECT event_type, hour, cnt,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY cnt DESC, hour) AS rn
      |  FROM cells
      |), tot AS (
      |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS total
      |  FROM cells GROUP BY event_type
      |)
      |SELECT rk.event_type, total, CAST(cnt AS BIGINT) AS peak_count,
      |  CAST(hour AS BIGINT) AS peak_hour,
      |  CAST(cnt * n_hours * 1000000 // total AS BIGINT)
      |    AS load_factor_ppm
      |FROM rk JOIN tot ON rk.event_type = tot.event_type, nh
      |WHERE rn = 1
      |ORDER BY rk.event_type""".stripMargin

  // --------------------------------------------------------------- q239

  /** q239: signed φ² association matrix between event types at user
    * level — for each ordered type pair, the 2×2 (did-a × did-b) table
    * over users and `sign(ad − bc)·(ad − bc)²·10⁶ div (r₁r₂c₁c₂)` (the
    * signed phi-squared in ppm, DECIMAL/HUGEINT internally): positive
    * means doing a co-occurs with doing b beyond chance, negative
    * means substitution. The association structure q204's overlap
    * counts cannot sign.
    *
    * Scale shape: per-user type flags fold once; the pair table is a
    * |types|²-bounded aggregate over the small per-user flag frame
    * (types are few — the flags frame carries one row per user).
    */
  def q239_type_association(s: SparkSession, dir: String): DataFrame = {
    val flags = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type")
      .agg(when(count(lit(1)) > 0, 1L).otherwise(0L))
      .na.fill(0L)
      .transform(graft.core.Ckpt.eager) // all |types|² pair tables read THIS frame, not events
    val types = flags.columns.filter(_ != "user_id").sorted
    val pairs = for {
      i <- types.indices; j <- types.indices if i < j
    } yield (types(i), types(j))
    val rows = pairs.map { case (ta, tb) =>
      flags.agg(
        sum(when(col(ta) === 1 && col(tb) === 1, 1L).otherwise(0L)).as("a"),
        sum(when(col(ta) === 1 && col(tb) === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col(ta) === 0 && col(tb) === 1, 1L).otherwise(0L)).as("c"),
        sum(when(col(ta) === 0 && col(tb) === 0, 1L).otherwise(0L)).as("d"))
        .select(lit(ta).as("type_a"), lit(tb).as("type_b"), col("a"),
          col("b"), col("c"), col("d"))
    }.reduce(_ unionByName _)
    rows.select(col("type_a"), col("type_b"), col("a"), col("b"), col("c"),
        col("d"),
        expr("""CASE WHEN (a+b) * (c+d) * (a+c) * (b+d) = 0 THEN 0
          ELSE CAST(sign(a*d - b*c) AS BIGINT) *
            CAST((CAST(a*d - b*c AS DECIMAL(20,0))
              * CAST(a*d - b*c AS DECIMAL(20,0))
              * CAST(1000000 AS DECIMAL(20,0)))
            div (CAST((a+b) AS DECIMAL(20,0)) * CAST((c+d) AS DECIMAL(20,0))
              * CAST((a+c) AS DECIMAL(20,0)) * CAST((b+d) AS DECIMAL(20,0)))
            AS BIGINT) END""").as("signed_phi2_ppm"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q239Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_type FROM events GROUP BY user_id, event_type
      |), ty AS (SELECT DISTINCT event_type FROM f
      |), u AS (SELECT DISTINCT user_id FROM f
      |), pr AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb
      |  FROM ty a JOIN ty b ON a.event_type < b.event_type
      |), cells AS (
      |  SELECT pr.ta, pr.tb,
      |    CAST(sum(CASE WHEN fa.user_id IS NOT NULL
      |      AND fb.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN fa.user_id IS NOT NULL
      |      AND fb.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN fa.user_id IS NULL
      |      AND fb.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN fa.user_id IS NULL
      |      AND fb.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM pr CROSS JOIN u
      |  LEFT JOIN f fa ON fa.user_id = u.user_id AND fa.event_type = pr.ta
      |  LEFT JOIN f fb ON fb.user_id = u.user_id AND fb.event_type = pr.tb
      |  GROUP BY pr.ta, pr.tb
      |)
      |SELECT ta AS type_a, tb AS type_b, a, b, c, d,
      |  CASE WHEN (a+b) * (c+d) * (a+c) * (b+d) = 0 THEN 0
      |    ELSE CAST(sign(a*d - b*c) AS BIGINT) *
      |      CAST(CAST(a*d - b*c AS HUGEINT) * CAST(a*d - b*c AS HUGEINT)
      |        * 1000000
      |      // (CAST(a+b AS HUGEINT) * CAST(c+d AS HUGEINT)
      |        * CAST(a+c AS HUGEINT) * CAST(b+d AS HUGEINT)) AS BIGINT)
      |    END AS signed_phi2_ppm
      |FROM cells
      |ORDER BY type_a, type_b""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q237_dau_stability", q237_dau_stability _, q237Sql),
    Query("q238_load_factor", q238_load_factor _, q238Sql),
    Query("q239_type_association", q239_type_association _, q239Sql)
  )
}
