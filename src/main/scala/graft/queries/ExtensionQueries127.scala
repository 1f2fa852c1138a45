package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-15 batch 10: stratified effects, operational dials, and
  * agreement — four readouts that condition on structure the earlier
  * tiers treated as flat.
  *
  *  - q468 Mantel–Haenszel common odds ratio: does the weekend
  *    high-value effect hold WITHIN each event type, or was the crude
  *    2×2 (q455's Fisher table) confounded by type mix? The classic
  *    stratified-effect estimator, exact in micro units with
  *    per-stratum truncation stated.
  *  - q469 sessionization gap sensitivity: sessions/users/events-per-
  *    session at inactivity thresholds {5, 15, 30, 60} min — the dial
  *    every sessionized metric depends on, read as a table BEFORE
  *    pinning one (q56's streaming session windows fix a single gap;
  *    this sweeps it).
  *  - q470 in-batch negative collision audit: if contrastive training
  *    batches are formed by hashing doc_id into B buckets, what share
  *    of in-batch pairs share a language (false negatives)? Swept over
  *    B ∈ {8, 32, 128} with the exact same-class pair count per
  *    bucket — the data-side check before training with in-batch
  *    negatives.
  *  - q471 linear-weighted Cohen's kappa between two ordinal document
  *    raters (length band vs lexical-diversity band, 5 levels):
  *    κ_w = 1 − Σw·O / Σw·E off ONE 5×5 contingency — the ordinal
  *    upgrade of q230's binary kappa (disagreeing by one band is not
  *    the same as by four).
  *
  * Scale shapes: q468/q471 are one scan → category-bounded cells;
  * q469 is one per-user-PARTITIONED lag window (never partition-less)
  * + a 4-row grid; q470 is one (bucket, lang) rollup per grid value
  * (grid exploded before the rollup, so still ONE shuffle). Products
  * of counts ride DECIMAL(38,0) (HUGEINT mirror).
  */
object ExtensionQueries127 extends QueryGroup {

  // -------------------------------------------------------------- q468

  /** q468: strata = event_type; exposure = weekend ((day+4)%7 ∈ {0,6});
    * outcome = event value-cents strictly above the stratum mean
    * (cents·n_t > total_t, exact). Per stratum the 2×2 and its own
    * or_milli = a·d·1000 div (b·c); the Mantel–Haenszel common OR
    * repeats per row: num/den = Σ a·d·10⁶ div n_t / Σ b·c·10⁶ div n_t
    * (per-stratum truncation, stated), or_mh_milli = num·1000 div den.
    */
  def q468_mantel_haenszel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        expr("(ts div 1000 div 86400000000 + 4) % 7 IN (0, 6)").as("wk"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val tot = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_t"), sum(col("cents")).as("total_t"))
    val cells = ev.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("wk"),
        expr("cents * n_t > total_t").as("hi"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("wk") && col("hi"), 1L).otherwise(0L)).as("a"),
        sum(when(col("wk") && !col("hi"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("wk") && col("hi"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("wk") && !col("hi"), 1L).otherwise(0L)).as("d"))
      .withColumn("n_t", col("a") + col("b") + col("c") + col("d"))
    val mh = cells.agg(
        sum(expr("CAST(CAST(a AS DECIMAL(38,0)) * d * 1000000 div n_t AS BIGINT)")).as("num"),
        sum(expr("CAST(CAST(b AS DECIMAL(38,0)) * c * 1000000 div n_t AS BIGINT)")).as("den"))
      .select(expr("num * 1000 div den").as("or_mh_milli"))
    cells.crossJoin(broadcast(mh))
      .select(col("event_type"), col("a"), col("b"), col("c"), col("d"),
        expr("CASE WHEN b = 0 OR c = 0 THEN CAST(NULL AS BIGINT) ELSE " +
          "CAST(CAST(a AS DECIMAL(38,0)) * d * 1000 div (CAST(b AS DECIMAL(38,0)) * c) AS BIGINT) END")
          .as("or_milli"),
        col("or_mh_milli"))
      .orderBy(col("event_type"))
  }

  val q468Sql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    (epoch_us(ts) // 86400000000 + 4) % 7 IN (0, 6) AS wk,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), tot AS (
      |  SELECT event_type, count(*) AS n_t, CAST(sum(cents) AS BIGINT) AS total_t
      |  FROM ev GROUP BY 1
      |), cells AS (
      |  SELECT ev.event_type,
      |    CAST(sum(CASE WHEN wk AND cents * n_t > total_t THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN wk AND NOT cents * n_t > total_t THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN NOT wk AND cents * n_t > total_t THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN NOT wk AND NOT cents * n_t > total_t THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM ev JOIN tot ON ev.event_type = tot.event_type
      |  GROUP BY ev.event_type
      |), nn AS (
      |  SELECT event_type, a, b, c, d, a + b + c + d AS n_t FROM cells
      |), mh AS (
      |  SELECT CAST(sum(CAST(CAST(a AS HUGEINT) * d * 1000000 // n_t AS BIGINT)) AS BIGINT) AS num,
      |    CAST(sum(CAST(CAST(b AS HUGEINT) * c * 1000000 // n_t AS BIGINT)) AS BIGINT) AS den
      |  FROM nn
      |)
      |SELECT event_type, a, b, c, d,
      |  CASE WHEN b = 0 OR c = 0 THEN CAST(NULL AS BIGINT) ELSE
      |    CAST(CAST(a AS HUGEINT) * d * 1000 // (CAST(b AS HUGEINT) * c) AS BIGINT) END AS or_milli,
      |  mh.num * 1000 // mh.den AS or_mh_milli
      |FROM nn, mh ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------- q469

  /** q469: gaps from ONE per-user lag window over (ts µs, event_id)
    * order; a session starts at the first event or when the gap
    * exceeds T. Per T ∈ {300, 900, 1800, 3600} s: sessions, users,
    * events-per-session in milli (div).
    */
  def q469_session_gap_sweep(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("t_us"))
      .withColumn("gap_us", col("t_us") - lag(col("t_us"), 1).over(w))
    val grid = s.range(0, 4).select(
      element_at(expr("array(300L, 900L, 1800L, 3600L)"), col("id").cast("int") + 1).as("t_s"))
    gaps.crossJoin(broadcast(grid))
      .groupBy(col("t_s"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("gap_us").isNull || col("gap_us") > col("t_s") * 1000000L, 1L)
          .otherwise(0L)).as("n_sessions"))
      .crossJoin(broadcast(Tables.events(s, dir)
        .agg(countDistinct(col("user_id")).as("n_users"))))
      .select(col("t_s"), col("n_users"), col("n_sessions"),
        expr("n_events * 1000 div n_sessions").as("events_per_session_milli"))
      .orderBy(col("t_s"))
  }

  val q469Sql: String =
    """WITH gaps AS (
      |  SELECT user_id, epoch_us(ts) -
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |                            ORDER BY epoch_us(ts), event_id) AS gap_us
      |  FROM events
      |), grid AS (SELECT CAST(unnest([300, 900, 1800, 3600]) AS BIGINT) AS t_s),
      |agg AS (
      |  SELECT g.t_s, count(*) AS n_events,
      |    CAST(sum(CASE WHEN gaps.gap_us IS NULL
      |      OR gaps.gap_us > g.t_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_sessions
      |  FROM gaps CROSS JOIN grid g GROUP BY g.t_s
      |), u AS (SELECT count(DISTINCT user_id) AS n_users FROM events)
      |SELECT agg.t_s, u.n_users, agg.n_sessions,
      |  agg.n_events * 1000 // agg.n_sessions AS events_per_session_milli
      |FROM agg, u ORDER BY agg.t_s""".stripMargin

  // -------------------------------------------------------------- q470

  /** q470: batches = LCG(doc_id) mod B, classes = lang. Per B: buckets
    * with ≥2 docs, total in-batch pairs Σ C(m,2), same-lang pairs
    * Σ_lang C(m_l,2), collision_ppm = same·10⁶ div pairs.
    */
  def q470_inbatch_collisions(s: SparkSession, dir: String): DataFrame = {
    val grid = s.range(0, 3).select(
      element_at(expr("array(8L, 32L, 128L)"), col("id").cast("int") + 1).as("n_buckets"))
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        expr("(doc_id * 1103515245 + 12345) % 2147483648").as("h"))
      .crossJoin(broadcast(grid))
      .select(col("n_buckets"), expr("h % n_buckets").as("bucket"), col("lang"))
    val cls = d.groupBy(col("n_buckets"), col("bucket"), col("lang"))
      .agg(count(lit(1)).as("m_l"))
    val perBucket = cls.groupBy(col("n_buckets"), col("bucket"))
      .agg(sum(col("m_l")).as("m"),
        sum(expr("CAST(CAST(m_l AS DECIMAL(38,0)) * (m_l - 1) div 2 AS BIGINT)")).as("same_pairs"))
    perBucket.groupBy(col("n_buckets"))
      .agg(sum(when(col("m") >= 2, 1L).otherwise(0L)).as("n_multi_buckets"),
        sum(expr("CAST(CAST(m AS DECIMAL(38,0)) * (m - 1) div 2 AS BIGINT)")).as("pairs"),
        sum(col("same_pairs")).as("same_lang_pairs"))
      .select(col("n_buckets"), col("n_multi_buckets"), col("pairs"),
        col("same_lang_pairs"),
        expr("same_lang_pairs * 1000000 div pairs").as("collision_ppm"))
      .orderBy(col("n_buckets"))
  }

  val q470Sql: String =
    """WITH grid AS (SELECT CAST(unnest([8, 32, 128]) AS BIGINT) AS n_buckets),
      |d AS (
      |  SELECT g.n_buckets,
      |    ((doc_id * 1103515245 + 12345) % 2147483648) % g.n_buckets AS bucket,
      |    lang
      |  FROM documents CROSS JOIN grid g
      |), cls AS (
      |  SELECT n_buckets, bucket, lang, count(*) AS m_l
      |  FROM d GROUP BY 1, 2, 3
      |), per_bucket AS (
      |  SELECT n_buckets, bucket, CAST(sum(m_l) AS BIGINT) AS m,
      |    CAST(sum(CAST(CAST(m_l AS HUGEINT) * (m_l - 1) // 2 AS BIGINT)) AS BIGINT) AS same_pairs
      |  FROM cls GROUP BY 1, 2
      |)
      |SELECT n_buckets,
      |  CAST(sum(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_buckets,
      |  CAST(sum(CAST(CAST(m AS HUGEINT) * (m - 1) // 2 AS BIGINT)) AS BIGINT) AS pairs,
      |  CAST(sum(same_pairs) AS BIGINT) AS same_lang_pairs,
      |  CAST(sum(same_pairs) AS BIGINT) * 1000000
      |    // CAST(sum(CAST(CAST(m AS HUGEINT) * (m - 1) // 2 AS BIGINT)) AS BIGINT) AS collision_ppm
      |FROM per_bucket GROUP BY n_buckets ORDER BY n_buckets""".stripMargin

  // -------------------------------------------------------------- q471

  /** q471: rater A = whitespace-token-count band, rater B = distinct-
    * token-count band (both least(4, count div 15) — 5 ordinal levels);
    * linear weights w_ij = |i−j|. κ_w·1000 = 1000 − Σw·O·N·1000 div
    * Σw·row_i·col_j, exact off the 5×5 contingency (zero cells carry
    * zero weight mass in O; E uses the margins, so no explicit grid is
    * needed).
    */
  def q471_weighted_kappa(s: SparkSession, dir: String): DataFrame = {
    val bands = Tables.documents(s, dir)
      .select(split(col("text"), " ").as("ts"))
      .select(expr("least(4, size(ts) div 15)").as("ra"),
        expr("least(4, size(array_distinct(ts)) div 15)").as("rb"))
    val o = bands.groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("n"))
    val rowm = o.groupBy(col("ra")).agg(sum(col("n")).as("row_n"))
    val colm = o.groupBy(col("rb")).agg(sum(col("n")).as("col_n"))
    val n = o.agg(sum(col("n")).as("nn"))
    val wo = o.agg(sum(expr("abs(ra - rb) * n")).as("sum_wo"))
    val we = rowm.crossJoin(broadcast(colm))
      .agg(sum(expr("abs(ra - rb) * CAST(row_n AS DECIMAL(38,0)) * col_n")).as("sum_we"))
    wo.crossJoin(broadcast(we)).crossJoin(broadcast(n))
      .select(col("nn").as("n_docs"), col("sum_wo"),
        expr("CAST(sum_we AS BIGINT)").as("sum_we"),
        expr("CAST(1000 - CAST(sum_wo AS DECIMAL(38,0)) * nn * 1000 div sum_we AS BIGINT)")
          .as("kappa_w_milli"))
  }

  val q471Sql: String =
    """WITH bands AS (
      |  SELECT least(4, len(string_split(text, ' ')) // 15) AS ra,
      |    least(4, len(list_distinct(string_split(text, ' '))) // 15) AS rb
      |  FROM documents
      |), o AS (
      |  SELECT ra, rb, count(*) AS n FROM bands GROUP BY 1, 2
      |), rowm AS (SELECT ra, CAST(sum(n) AS BIGINT) AS row_n FROM o GROUP BY ra),
      |colm AS (SELECT rb, CAST(sum(n) AS BIGINT) AS col_n FROM o GROUP BY rb),
      |nn AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM o),
      |wo AS (SELECT CAST(sum(abs(ra - rb) * n) AS BIGINT) AS sum_wo FROM o),
      |we AS (
      |  SELECT CAST(sum(abs(rowm.ra - colm.rb)
      |    * CAST(rowm.row_n AS HUGEINT) * colm.col_n) AS HUGEINT) AS sum_we
      |  FROM rowm, colm
      |)
      |SELECT nn.nn AS n_docs, wo.sum_wo,
      |  CAST(we.sum_we AS BIGINT) AS sum_we,
      |  CAST(1000 - CAST(wo.sum_wo AS HUGEINT) * nn.nn * 1000 // we.sum_we
      |    AS BIGINT) AS kappa_w_milli
      |FROM wo, we, nn""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q468_mantel_haenszel", q468_mantel_haenszel _, q468Sql),
    Query("q469_session_gap_sweep", q469_session_gap_sweep _, q469Sql),
    Query("q470_inbatch_collisions", q470_inbatch_collisions _, q470Sql),
    Query("q471_weighted_kappa", q471_weighted_kappa _, q471Sql)
  )
}
