package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{DenseIds, PrefixScan}

/** Round-9 batch 16: model-eval, customer-segmentation, and sequence-
  * mining primitives — all exact-integer, all DuckDB-oracle-gated.
  *
  *  - q178: exact ROC AUC via the Mann–Whitney rank-sum identity — the
  *    threshold-free companion to q175's decile lift.
  *  - q179: RFM (recency / frequency / monetary) quintile segmentation —
  *    the classic customer-base partition, exact quintiles.
  *  - q180: eventually-follows pattern support — the PrefixSpan-style
  *    "A … then later B" sequential-pattern miner q122's ADJACENT
  *    transition matrix cannot express.
  */
object ExtensionQueries28 extends QueryGroup {

  // --------------------------------------------------------------- q178

  /** q178: exact ROC AUC of `n_chars` as a predictor of `lang = 'en'`,
    * via the Mann–Whitney identity — AUC = U / (n₊·n₋) where
    * 2U = Σ_pairs (2·[s₊ > s₋] + [s₊ = s₋]). Working with 2U keeps ties
    * (midranks) in pure integers: grouping by score value,
    * `2U = Σ_v cp_v · (2·negBelow_v + cn_v)`. The one-row report carries
    * n_pos, n_neg, two_u, and `auc_ppm = 2U·5·10⁵ div (n₊·n₋)`
    * (≡ 2U·10⁶ div (2·n₊·n₋) under truncating division).
    *
    * Scale shape: one value-keyed count aggregate (distinct scores,
    * bounded far below row count), cumulative negatives via
    * [[graft.ops.PrefixScan.prefixSumsInclusive]] (two-phase — never the
    * single-reducer global window the oracle spells), then a 1-row fold.
    * 64-bit bounds: 2U ≤ 2·n₊·n₋, so auc_ppm stays exact to ~4×10⁶ docs
    * per class; past that the ppm product needs the q162 DECIMAL(38)
    * upgrade path (two_u itself is safe to ~2×10⁹ per class).
    */
  def q178_auc_mannwhitney(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val counts = d.groupBy(col("score"))
      .agg(sum(col("pos")).as("cp"), sum(lit(1L) - col("pos")).as("cn"))
    val cum = PrefixScan.prefixSumsInclusive(counts, 16, Seq(col("score")),
      Seq((col("cn"), "cumn")))
    val totals = d.agg(sum(col("pos")).as("np"),
      sum(lit(1L) - col("pos")).as("nn"))
    cum.crossJoin(broadcast(totals))
      .select(col("np"), col("nn"),
        (col("cp") * (lit(2L) * (col("cumn") - col("cn")) + col("cn")))
          .as("term"))
      .groupBy(col("np"), col("nn"))
      .agg(sum(col("term")).as("two_u"))
      .select(col("np").as("n_pos"), col("nn").as("n_neg"), col("two_u"),
        expr("two_u * 500000 div (np * nn)").as("auc_ppm"))
  }

  val q178Sql: String =
    """WITH d AS (
      |  SELECT n_chars AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      |  FROM documents
      |), c AS (
      |  SELECT score, CAST(sum(pos) AS BIGINT) AS cp,
      |    CAST(sum(1 - pos) AS BIGINT) AS cn
      |  FROM d GROUP BY score
      |), cum AS (
      |  SELECT score, cp, cn,
      |    CAST(sum(cn) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cumn
      |  FROM c
      |), t AS (
      |  SELECT CAST(sum(pos) AS BIGINT) AS np,
      |    CAST(sum(1 - pos) AS BIGINT) AS nn
      |  FROM d
      |)
      |SELECT np AS n_pos, nn AS n_neg,
      |  CAST(sum(cp * (2 * (cumn - cn) + cn)) AS BIGINT) AS two_u,
      |  CAST(CAST(sum(cp * (2 * (cumn - cn) + cn)) AS BIGINT) * 500000
      |    // (np * nn) AS BIGINT) AS auc_ppm
      |FROM cum, t GROUP BY np, nn""".stripMargin

  // --------------------------------------------------------------- q179

  /** q179: RFM quintile segmentation of purchasers — each user scores a
    * 1–5 quintile on Recency (latest purchase time, later = better),
    * Frequency (purchase count), and Monetary (cents spent); the report
    * is one row per populated (r, f, m) segment with its population and
    * total spend. The classic customer-base partition (Hughes 1994),
    * exact: quintile = `rid·5 div n + 1` over the q91 two-phase dense
    * rank per dimension, ties broken by user_id so both engines cut
    * identically.
    *
    * Scale shape: ONE purchase scan folds to the per-user (r, f, m)
    * frame, checkpointed once so the three rank passes (each a
    * [[graft.ops.DenseIds.withDenseId]] two-phase range partition —
    * never a single-reducer global window) re-read the small per-user
    * frame, not the events table; the segment rollup is a ≤125-row
    * aggregate.
    */
  def q179_rfm_segments(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts div 1000").as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(max(col("us")).as("last_us"), count(lit(1)).as("freq"),
        sum(col("cents")).as("cents"))
      .transform(graft.core.Ckpt.eager)
    def quintile(df: DataFrame, rid: String, q: String,
        order: org.apache.spark.sql.Column): DataFrame = {
      val ranked = DenseIds.withDenseId(df, rid, 16, order, col("user_id"))
      val n = ranked.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n))
        .withColumn(q, expr(s"$rid * 5 div n + 1")).drop(rid, "n")
    }
    val scored = quintile(quintile(quintile(users,
      "r0", "r_q", col("last_us")), "f0", "f_q", col("freq")),
      "m0", "m_q", col("cents"))
    scored.groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("cents"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  val q179Sql: String =
    """WITH u AS (
      |  SELECT user_id, max(epoch_us(ts)) AS last_us,
      |    count(*) AS freq,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
      |), r AS (
      |  SELECT user_id, cents,
      |    (row_number() OVER (ORDER BY last_us, user_id) - 1) * 5
      |      // (SELECT count(*) FROM u) + 1 AS r_q,
      |    (row_number() OVER (ORDER BY freq, user_id) - 1) * 5
      |      // (SELECT count(*) FROM u) + 1 AS f_q,
      |    (row_number() OVER (ORDER BY cents, user_id) - 1) * 5
      |      // (SELECT count(*) FROM u) + 1 AS m_q
      |  FROM u
      |)
      |SELECT r_q, f_q, m_q, count(*) AS n_users,
      |  CAST(sum(cents) AS BIGINT) AS cents
      |FROM r GROUP BY r_q, f_q, m_q
      |ORDER BY r_q, f_q, m_q""".stripMargin

  // --------------------------------------------------------------- q180

  /** q180: eventually-follows support — for each ordered pair of distinct
    * event types (a, b), how many users ever do an `a` that is LATER
    * followed by a `b` (any gap, any events between). The
    * PrefixSpan-family sequential pattern `⟨a, …, b⟩` with per-user
    * binary support; q122's transition matrix only sees ADJACENT pairs.
    * Uses the identity `∃ i<j: tᵢ(a) < tⱼ(b) ⟺ first(a) < last(b)`, so
    * support needs only per-(user, type) first/last timestamps.
    *
    * Scale shape: one events scan folds to the (user, type, first, last)
    * frame (≤ |users|·|types| rows); the pair generation is a SELF-join
    * co-partitioned on user_id with fan-out ≤ |types|² per user (25
    * here); the report is a ≤20-row aggregate with the 1-row user total
    * broadcast. Never an event-level pair join.
    */
  def q180_eventually_follows(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"))
    val spans = e.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    val a = spans.select(col("user_id"), col("event_type").as("antecedent"),
      col("first_us"))
    val b = spans.select(col("user_id"), col("event_type").as("consequent"),
      col("last_us"))
    val nUsers = e.agg(countDistinct(col("user_id")).as("nu"))
    a.join(b, Seq("user_id"))
      .filter(col("antecedent") =!= col("consequent") &&
        col("first_us") < col("last_us"))
      .groupBy(col("antecedent"), col("consequent"))
      .agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(nUsers))
      .select(col("antecedent"), col("consequent"), col("support"),
        expr("support * 1000000 div nu").as("support_ppm"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  val q180Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      |), spans AS (
      |  SELECT user_id, event_type, min(us) AS first_us, max(us) AS last_us
      |  FROM e GROUP BY user_id, event_type
      |), t AS (
      |  SELECT count(DISTINCT user_id) AS nu FROM e
      |)
      |SELECT a.event_type AS antecedent, b.event_type AS consequent,
      |  count(*) AS support,
      |  CAST(count(*) * 1000000 // nu AS BIGINT) AS support_ppm
      |FROM spans a JOIN spans b ON a.user_id = b.user_id
      |  AND a.event_type <> b.event_type AND a.first_us < b.last_us, t
      |GROUP BY a.event_type, b.event_type, nu
      |ORDER BY antecedent, consequent""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q178_auc_mannwhitney", q178_auc_mannwhitney _, q178Sql),
    Query("q179_rfm_segments", q179_rfm_segments _, q179Sql),
    Query("q180_eventually_follows", q180_eventually_follows _, q180Sql)
  )
}
