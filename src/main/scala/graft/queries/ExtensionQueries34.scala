package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.DenseIds

/** Round-9 batch 22: growth finance, collocation mining, and rank
  * correlation — exact-integer, DuckDB-oracle-gated.
  *
  *  - q196: cohort LTV curve — cumulative revenue per signup cohort at
  *    week offsets, the unit-economics readout on top of q133's
  *    retention triangle.
  *  - q197: adjacent-bigram collocation lift — the Manning–Schütze
  *    collocation miner (observed/expected in exact ppm).
  *  - q198: Spearman rank correlation — the model-eval tier's monotone
  *    association measure beside q178's AUC and q181's chi-square.
  */
object ExtensionQueries34 extends QueryGroup {

  // --------------------------------------------------------------- q196

  /** q196: cohort LTV curve — users cohorted by first-signup epoch week;
    * for week offsets 0-3, the cohort's CUMULATIVE purchase revenue
    * through that offset and the exact per-user LTV in cents. The
    * unit-economics companion to q133's retention triangle (does later
    * spend make up for churn?).
    *
    * Scale shape: one events scan feeds the first-signup fold and the
    * (cohort, offset)-keyed revenue aggregate; cumulating across the ≤4
    * offsets is a broadcast triangle join on the TINY (cohort, offset)
    * frame (never a window over raw events); cohort sizes ride a
    * broadcast.
    */
  def q196_cohort_ltv(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400000000L
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr(s"ts div 1000 div $weekUs").as("week"),
        round(col("value") * 100).cast("long").as("cents"))
    val cohorts = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("week")).as("cweek"))
    val sizes = cohorts.groupBy(col("cweek"))
      .agg(count(lit(1)).as("n_users"))
    val rev = e.filter(col("event_type") === "purchase")
      .join(cohorts, "user_id")
      .select(col("cweek"), (col("week") - col("cweek")).as("off"),
        col("cents"))
      .filter(col("off") >= 0 && col("off") <= 3)
      .groupBy(col("cweek"), col("off"))
      .agg(sum(col("cents")).as("cents"))
    val offsets = s.createDataFrame(Seq(Tuple1(0L), Tuple1(1L), Tuple1(2L),
      Tuple1(3L))).toDF("week_offset")
    rev.join(broadcast(offsets), col("off") <= col("week_offset"))
      .groupBy(col("cweek"), col("week_offset"))
      .agg(sum(col("cents")).as("cum_cents"))
      .join(broadcast(sizes), "cweek")
      .select(col("cweek").as("cohort_week"), col("week_offset"),
        col("n_users"), col("cum_cents"),
        expr("cum_cents div n_users").as("ltv_cents"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q196Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(ts) // 604800000000 AS week,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), co AS (
      |  SELECT user_id, min(week) AS cweek FROM e
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), sz AS (
      |  SELECT cweek, count(*) AS n_users FROM co GROUP BY cweek
      |), rev AS (
      |  SELECT co.cweek, e.week - co.cweek AS off,
      |    CAST(sum(cents) AS BIGINT) AS cents
      |  FROM e JOIN co ON e.user_id = co.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.week - co.cweek BETWEEN 0 AND 3
      |  GROUP BY co.cweek, off
      |), offs AS (SELECT unnest([0, 1, 2, 3]::BIGINT[]) AS week_offset
      |), cum AS (
      |  SELECT cweek, week_offset, CAST(sum(cents) AS BIGINT) AS cum_cents
      |  FROM rev JOIN offs ON off <= week_offset
      |  GROUP BY cweek, week_offset
      |)
      |SELECT cum.cweek AS cohort_week, week_offset, n_users, cum_cents,
      |  cum_cents // n_users AS ltv_cents
      |FROM cum JOIN sz ON cum.cweek = sz.cweek
      |ORDER BY cohort_week, week_offset""".stripMargin

  // --------------------------------------------------------------- q197

  /** q197: adjacent-bigram collocation lift (Manning–Schütze ch. 5) —
    * bigrams occurring ≥ 5 times, scored by observed-over-expected
    * `lift_ppm = n₁₂·N·10⁶ div (n₁·n₂)` against the unigram independence
    * baseline. Top 20. The collocation miner that finds "New York"-style
    * units a unigram vocab misses — exact integers end to end.
    *
    * Scale shape: one posexplode pass builds (doc, pos, tok); the
    * adjacent pair is a doc-co-partitioned self-join on (doc, pos+1) —
    * never a token×token join; unigram counts and N ride as one
    * token-keyed aggregate + a 1-row broadcast; TakeOrderedAndProject.
    */
  def q197_collocations(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("n1"))
    val total = toks.agg(count(lit(1)).as("nn"))
    val bi = toks.as("a").join(toks.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("a.pos") + 1 === col("b.pos"))
      .groupBy(col("a.tok").as("w1"), col("b.tok").as("w2"))
      .agg(count(lit(1)).as("n12"))
      .filter(col("n12") >= 5)
    bi.join(uni.select(col("tok").as("w1"), col("n1").as("c1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("n1").as("c2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n12"),
        expr("n12 * nn * 1000000 div (c1 * c2)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(20)
  }

  val q197Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(range(1, len(string_split(text, ' ')) + 1)) - 1 AS pos,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), uni AS (
      |  SELECT tok, count(*) AS n1 FROM toks GROUP BY tok
      |), t AS (SELECT count(*) AS nn FROM toks
      |), bi AS (
      |  SELECT a.tok AS w1, b.tok AS w2, count(*) AS n12
      |  FROM toks a JOIN toks b
      |    ON a.doc_id = b.doc_id AND a.pos + 1 = b.pos
      |  GROUP BY a.tok, b.tok
      |  HAVING count(*) >= 5
      |)
      |SELECT w1, w2, n12,
      |  CAST(n12 * nn * 1000000 // (u1.n1 * u2.n1) AS BIGINT) AS lift_ppm
      |FROM bi
      |JOIN uni u1 ON bi.w1 = u1.tok
      |JOIN uni u2 ON bi.w2 = u2.tok, t
      |ORDER BY lift_ppm DESC, w1, w2
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q198

  /** q198: Spearman rank correlation between per-user click count and
    * purchase spend — `ρ_ppm = 10⁶ − 6·Σd²·10⁶ div (n(n²−1))` over
    * deterministic ranks (ties broken by user_id on BOTH engines; the
    * exact-ppm rho of that deterministic ranking). The monotone
    * association member of the eval tier (q178 AUC, q181 chi-square,
    * q152's OLS slope).
    *
    * Scale shape: one events scan folds to the per-user (clicks, cents)
    * frame, checkpointed once; BOTH ranks are q91 two-phase dense ids
    * over that small frame; Σd² is a 1-row fold. 64-bit bounds: Σd² <
    * n³/3, so the ppm product is exact to n ≈ 10⁶ users (q162
    * DECIMAL(38) upgrade path beyond).
    */
  def q198_spearman(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("clicks"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("cents"))
      .transform(graft.core.Ckpt.eager)
    val rx = DenseIds.withDenseId(users, "rx", 16, col("clicks"), col("user_id"))
    val rxy = DenseIds.withDenseId(rx, "ry", 16, col("cents"), col("user_id"))
    rxy.select(((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("d2"))
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("sd2"))
      .select(col("n"), col("sd2"),
        expr("1000000 - 6 * sd2 * 1000000 div (n * (n * n - 1))")
          .as("rho_ppm"))
  }

  val q198Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS clicks,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY user_id
      |), r AS (
      |  SELECT
      |    row_number() OVER (ORDER BY clicks, user_id) - 1 AS rx,
      |    row_number() OVER (ORDER BY cents, user_id) - 1 AS ry
      |  FROM u
      |)
      |SELECT count(*) AS n,
      |  CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sd2,
      |  CAST(1000000 - 6 * sum((rx - ry) * (rx - ry)) * 1000000
      |    // (count(*) * (count(*) * count(*) - 1)) AS BIGINT) AS rho_ppm
      |FROM r""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q196_cohort_ltv", q196_cohort_ltv _, q196Sql),
    Query("q197_collocations", q197_collocations _, q197Sql),
    Query("q198_spearman", q198_spearman _, q198Sql)
  )
}
