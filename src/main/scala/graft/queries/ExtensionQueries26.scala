package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.DenseIds

/** Round-9 batch 14: attribution, bitmap distincts, model-lift eval.
  *
  *  - q173: position-based multi-touch attribution with exact integer
  *    credits that sum to 10⁶ per conversion by construction.
  *  - q174: exact distinct via 64-bit presence bitmaps — the bitmap-index
  *    distinct pattern, certified against plain COUNT(DISTINCT).
  *  - q175: decile lift table — the classic propensity-model eval.
  */
object ExtensionQueries26 extends QueryGroup {

  // --------------------------------------------------------------- q173

  /** q173: position-based (U-shaped 40/20/40) multi-touch attribution.
    * Each purchase credits the same user's views in the preceding 30
    * minutes: a single view takes the full 10⁶ ppm; two views split
    * 50/50; three or more give 40% to the first, 40% to the last, and
    * the middle views split the remaining 20% equally — with the
    * integer-division remainder assigned to the FIRST view, so credits
    * sum to EXACTLY 10⁶ per purchase (no float leakage, pinned in
    * spec). First 100 credited pairs by (purchase, view).
    *
    * Scale shape: the purchase⋈view join is keyed on user_id (the range
    * condition rides as a residual on the equi-join — never a BNLJ);
    * position and count come from one purchase-keyed window pair over
    * the joined frame (purchase cardinality ≫ cores, so the window
    * parallelizes); credit is pure integer arithmetic per row.
    */
  def q173_multitouch(s: SparkSession, dir: String): DataFrame = {
    val lookbackUs = 1800000000L // 30 minutes
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("us").as("pus"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("us").as("vus"))
    val w = Window.partitionBy(col("purchase_id")).orderBy(col("vus"), col("view_id"))
    val wn = Window.partitionBy(col("purchase_id"))
    p.join(v, Seq("user_id"))
      .filter(col("vus") >= col("pus") - lookbackUs && col("vus") <= col("pus"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("credit_ppm", expr(
        """CASE WHEN n = 1 THEN 1000000
          |     WHEN n = 2 THEN 500000
          |     WHEN pos = n THEN 400000
          |     WHEN pos = 1 THEN 400000 + (200000 - (n - 2) * (200000 div (n - 2)))
          |     ELSE 200000 div (n - 2) END""".stripMargin))
      .select(col("purchase_id"), col("view_id"), col("pos"), col("n"),
        col("credit_ppm"))
      .orderBy(col("purchase_id"), col("view_id"))
      .limit(100)
  }

  val q173Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
      |), p AS (
      |  SELECT user_id, event_id AS purchase_id, us AS pus FROM e
      |  WHERE event_type = 'purchase'
      |), v AS (
      |  SELECT user_id, event_id AS view_id, us AS vus FROM e
      |  WHERE event_type = 'view'
      |), j AS (
      |  SELECT purchase_id, view_id,
      |    row_number() OVER (PARTITION BY purchase_id ORDER BY vus, view_id)
      |      AS pos,
      |    count(*) OVER (PARTITION BY purchase_id) AS n
      |  FROM p JOIN v USING (user_id)
      |  WHERE vus >= pus - 1800000000 AND vus <= pus
      |)
      |SELECT purchase_id, view_id, CAST(pos AS BIGINT) AS pos,
      |  CAST(n AS BIGINT) AS n,
      |  CAST(CASE WHEN n = 1 THEN 1000000
      |       WHEN n = 2 THEN 500000
      |       WHEN pos = n THEN 400000
      |       WHEN pos = 1 THEN 400000 + (200000 - (n - 2) * (200000 // (n - 2)))
      |       ELSE 200000 // (n - 2) END AS BIGINT) AS credit_ppm
      |FROM j
      |ORDER BY purchase_id, view_id
      |LIMIT 100""".stripMargin

  // --------------------------------------------------------------- q174

  /** q174: exact distinct users per event type via 64-bit presence
    * bitmaps — the bitmap-index pattern (user → word `id div 64`, bit
    * `id mod 64`; OR the masks per word, popcount, sum). The oracle is
    * plain COUNT(DISTINCT): equality IS the certification that the
    * bitmap algebra loses nothing.
    *
    * Scale shape: this is how exact distinct stays cheap on dense id
    * spaces — the shuffle carries one LONG per (type, 64-user word)
    * instead of one row per distinct user (64× fewer rows, and bit_or
    * partials combine map-side). The q81 HLL answers the same question
    * approximately when ids are NOT dense; this is the exact sibling.
    */
  def q174_bitmap_distinct(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_type"), expr("user_id div 64").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").as("mask"))
      .groupBy(col("event_type"), col("word"))
      .agg(expr("bit_or(mask)").as("bits"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bit_count(bits)")).cast("long").as("distinct_users"))
      .orderBy(col("event_type"))
  }

  val q174Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS distinct_users
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q175

  /** q175: decile lift table — rank users by click count (the
    * "propensity score"), cut into exact deciles, and report each
    * decile's purchase-conversion rate and lift against the population
    * in integer ppm. The standard eval for "does the score actually
    * order users by outcome?".
    *
    * Scale shape: per-user score/outcome is one user-keyed aggregate;
    * the global rank is the q91 two-phase dense id; decile cut is pure
    * arithmetic `rid·10 div n`; the report is a 10-row aggregate with
    * the 1-row population rate broadcast.
    */
  def q175_decile_lift(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("bought"))
    val ranked = DenseIds.withDenseId(users, "rid", 16,
      col("n_clicks").desc, col("user_id"))
    val totals = ranked.agg(count(lit(1)).as("n"),
      sum(col("bought")).as("nb"))
    ranked.crossJoin(broadcast(totals))
      .select(expr("rid * 10 div n").as("decile"), col("bought"),
        col("n"), col("nb"))
      .groupBy(col("decile"), col("n"), col("nb"))
      .agg(count(lit(1)).as("n_users"), sum(col("bought")).as("n_buyers"))
      .select(col("decile"), col("n_users"), col("n_buyers"),
        expr("n_buyers * 1000000 div n_users").as("conv_ppm"),
        expr("(n_buyers * 1000000 div n_users) * 1000000" +
          " div (nb * 1000000 div n)").as("lift_ppm"))
      .orderBy(col("decile"))
  }

  val q175Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_clicks,
      |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS bought
      |  FROM events GROUP BY user_id
      |), r AS (
      |  SELECT bought,
      |    row_number() OVER (ORDER BY n_clicks DESC, user_id) - 1 AS rid
      |  FROM u
      |), t AS (
      |  SELECT count(*) AS n, CAST(sum(bought) AS BIGINT) AS nb FROM u
      |), d AS (
      |  SELECT rid * 10 // n AS decile, bought, n, nb FROM r, t
      |)
      |SELECT decile, count(*) AS n_users,
      |  CAST(sum(bought) AS BIGINT) AS n_buyers,
      |  CAST(sum(bought) * 1000000 // count(*) AS BIGINT) AS conv_ppm,
      |  CAST((sum(bought) * 1000000 // count(*)) * 1000000
      |       // (nb * 1000000 // n) AS BIGINT) AS lift_ppm
      |FROM d GROUP BY decile, n, nb
      |ORDER BY decile""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q173_multitouch", q173_multitouch _, q173Sql),
    Query("q174_bitmap_distinct", q174_bitmap_distinct _, q174Sql),
    Query("q175_decile_lift", q175_decile_lift _, q175Sql)
  )
}
