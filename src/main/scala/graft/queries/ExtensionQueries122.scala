package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan
import QueryBlocks.FuncWords

/** Threshold selection and population estimation —
  * the operating-point questions downstream of q446's calibration and
  * q447's gains table.
  *
  *  - q448 Youden-J optimal threshold: the full ROC sweep of the
  *    function-word score against the lang = 'en' label, reduced to the
  *    single operating point maximizing J = TPR − FPR. One distinct-
  *    score rollup + PrefixScan suffix sums (never a per-threshold
  *    rescan — same one-pass discipline as q435's CART stump, which
  *    optimizes Gini where this optimizes J).
  *  - q449 capture–recapture population estimate (Lincoln–Petersen and
  *    Chapman 1951): two deterministic LCG-keyed "captures" of the
  *    events user population, the overlap-based estimates, and their
  *    signed error vs the exact distinct count the estimator would
  *    replace at scale.
  *  - q450 Gini feature-importance ranking: q435 found the best split
  *    WITHIN one feature; this ranks FEATURES by impurity reduction
  *    (categorical multiway split), the variable-selection readout a
  *    training-data pipeline runs before fitting anything. One stack
  *    (melt) pass + one category-bounded rollup for all four features.
  *  - q451 Hodges–Lehmann shift estimator between the 'click' and
  *    'view' daily value series — the location-shift companion to the
  *    rank tests (the estimator Wilcoxon inverts to): lower median of
  *    all pairwise differences, q374's exact-median convention on a
  *    time-window-bounded (30×30) pair frame.
  *
  * Scale shapes: q448 is one doc-scan + a distinct-score frame; q449 is
  * one distinct-user rollup to a 1-row agg; q450 is one lineitem scan
  * melted 4× into a category-bounded rollup; q451's pair frame is
  * day-window-bounded (days don't grow with SF), broadcast. Products of
  * two counts ride DECIMAL(38,0) (HUGEINT in the mirror) before the
  * final BIGINT div — the magnitude convention from q440.
  */
object ExtensionQueries122 extends QueryGroup {

  // -------------------------------------------------------------- q448

  /** q448: best threshold t (classify en if score ≥ t) by Youden's J.
    * Candidates = distinct observed scores; TP/FP at t are suffix sums
    * of per-score label counts (PrefixScan ordered by score DESC).
    * Ties on J break toward the SMALLEST threshold (highest recall) —
    * stated so the argmax is deterministic cross-engine. ppm rates
    * truncate (div) against the fixed class totals.
    */
  def q448_youden_threshold(s: SparkSession, dir: String): DataFrame = {
    val fw = FuncWords.map(w => s"'$w'").mkString(", ")
    val scored = Tables.documents(s, dir)
      .select((col("lang") === "en").as("pos"), split(col("text"), " ").as("ts"))
      .select(col("pos"),
        expr(s"size(filter(ts, t -> t IN ($fw))) * 1000000 div size(ts)").as("score"))
    val perScore = scored.groupBy(col("score"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
    // inclusive prefix sums in score-DESC order = TP/FP of "score >= t"
    val swept = PrefixScan.prefixSumsInclusive(perScore, 16,
      Seq((col("score") * -1).as("negs")), Seq((col("np"), "tp"), (col("nn"), "fp")))
    val totals = scored.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("p"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("n"))
    swept.crossJoin(broadcast(totals))
      .select(col("score").as("threshold"), col("tp"), col("fp"),
        expr("tp * 1000000 div p").as("tpr_ppm"),
        expr("fp * 1000000 div n").as("fpr_ppm"))
      .withColumn("j_ppm", col("tpr_ppm") - col("fpr_ppm"))
      .orderBy(col("j_ppm").desc, col("threshold"))
      .limit(1)
  }

  val q448Sql: String = {
    val fw = FuncWords.map(w => s"'$w'").mkString(", ")
    s"""WITH scored AS (
       |  SELECT (lang = 'en') AS pos,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($fw)))
       |      AS BIGINT) * 1000000 // len(string_split(text, ' ')) AS score
       |  FROM documents
       |), per_score AS (
       |  SELECT score,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM scored GROUP BY 1
       |), swept AS (
       |  SELECT score,
       |    CAST(sum(np) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
       |    CAST(sum(nn) OVER (ORDER BY score DESC) AS BIGINT) AS fp
       |  FROM per_score
       |), tot AS (
       |  SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n
       |  FROM scored
       |)
       |SELECT score AS threshold, tp, fp,
       |  tp * 1000000 // p AS tpr_ppm, fp * 1000000 // n AS fpr_ppm,
       |  tp * 1000000 // p - fp * 1000000 // n AS j_ppm
       |FROM swept, tot
       |ORDER BY j_ppm DESC, threshold LIMIT 1""".stripMargin
  }

  // -------------------------------------------------------------- q449

  /** q449: Lincoln–Petersen `n1·n2 div m` and Chapman
    * `(n1+1)(n2+1) div (m+1) − 1` estimates of the distinct events-user
    * population from two deterministic ~30% captures (independent LCG
    * mixes of user_id; a user is "captured" when the mix lands < 3 of
    * 10). err_ppm is Chapman's signed error against the exact count.
    */
  def q449_capture_recapture(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir).select(col("user_id")).distinct()
      .select(col("user_id"),
        expr("((user_id * 1103515245 + 12345) % 2147483648) % 10 < 3").as("in_a"),
        expr("((user_id * 69069 + 1) % 2147483648) % 10 < 3").as("in_b"))
    users.agg(count(lit(1)).as("true_n"),
        sum(when(col("in_a"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("in_b"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)).as("m"))
      .select(col("true_n"), col("n1"), col("n2"), col("m"),
        expr("CAST(CAST(n1 AS DECIMAL(38,0)) * n2 div m AS BIGINT)").as("lp_est"),
        expr("CAST(CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1) div (m + 1) - 1 AS BIGINT)")
          .as("chapman_est"))
      .withColumn("err_ppm",
        expr("CAST((CAST(chapman_est AS DECIMAL(38,0)) - true_n) * 1000000 div true_n AS BIGINT)"))
  }

  val q449Sql: String =
    """WITH users AS (
      |  SELECT DISTINCT user_id FROM events
      |), flagged AS (
      |  SELECT user_id,
      |    ((user_id * 1103515245 + 12345) % 2147483648) % 10 < 3 AS in_a,
      |    ((user_id * 69069 + 1) % 2147483648) % 10 < 3 AS in_b
      |  FROM users
      |), agg AS (
      |  SELECT count(*) AS true_n,
      |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT) AS m
      |  FROM flagged
      |)
      |SELECT true_n, n1, n2, m,
      |  CAST(CAST(n1 AS HUGEINT) * n2 // m AS BIGINT) AS lp_est,
      |  CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) // (m + 1) - 1 AS BIGINT)
      |    AS chapman_est,
      |  CAST((CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) // (m + 1) - 1 AS HUGEINT)
      |    - true_n) * 1000000 // true_n AS BIGINT) AS err_ppm
      |FROM agg""".stripMargin

  // -------------------------------------------------------------- q450

  /** q450: rank lineitem features by Gini impurity reduction against
    * the high-discount label (l_discount ≥ 0.05, exact in basis points).
    * Parent Gini (2 classes) = 2·pos·neg·10⁶ div n²; the multiway-split
    * child impurity sums per-value `2·pos_v·neg_v·10⁶ div n_v` (per-value
    * truncation, stated) then divides by n. gain_ppm = parent − child.
    * Melt via stack → ONE rollup covers all four features; every frame
    * after the scan is category-bounded (flags, statuses, 12 months,
    * ~6 quantity bands).
    */
  def q450_gini_feature_ranking(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(expr("CAST(round(l_discount * 10000) AS BIGINT) >= 500").as("pos"),
        expr("stack(4, " +
          "'returnflag', l_returnflag, " +
          "'linestatus', l_linestatus, " +
          "'ship_month', CAST(month(l_shipdate) AS STRING), " +
          "'qty_band', CAST(CAST(l_quantity AS BIGINT) div 10 AS STRING)) AS (feature, val)"))
    val cells = li.groupBy(col("feature"), col("val"))
      .agg(count(lit(1)).as("n_v"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("pos_v"))
      .withColumn("neg_v", col("n_v") - col("pos_v"))
      .withColumn("child_term",
        expr("CAST(2 * CAST(pos_v AS DECIMAL(38,0)) * neg_v * 1000000 div n_v AS BIGINT)"))
    val parent = cells.filter(col("feature") === "returnflag")
      .agg(sum(col("n_v")).as("n"), sum(col("pos_v")).as("pos"))
      .select(col("n"),
        expr("CAST(2 * CAST(pos AS DECIMAL(38,0)) * (n - pos) * 1000000 " +
          "div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)").as("parent_ppm"))
    cells.groupBy(col("feature"))
      .agg(count(lit(1)).as("n_values"), sum(col("child_term")).as("child_sum"))
      .crossJoin(broadcast(parent))
      .select(col("feature"), col("n_values"),
        expr("child_sum div n").as("child_gini_ppm"), col("parent_ppm"),
        (col("parent_ppm") - expr("child_sum div n")).as("gain_ppm"))
      .orderBy(col("gain_ppm").desc, col("feature"))
  }

  val q450Sql: String =
    """WITH li AS (
      |  SELECT CAST(round(l_discount * 10000) AS BIGINT) >= 500 AS pos,
      |    l_returnflag, l_linestatus,
      |    CAST(month(l_shipdate) AS VARCHAR) AS ship_month,
      |    CAST(CAST(l_quantity AS BIGINT) // 10 AS VARCHAR) AS qty_band
      |  FROM lineitem
      |), melted AS (
      |  SELECT 'returnflag' AS feature, l_returnflag AS val, pos FROM li
      |  UNION ALL SELECT 'linestatus', l_linestatus, pos FROM li
      |  UNION ALL SELECT 'ship_month', ship_month, pos FROM li
      |  UNION ALL SELECT 'qty_band', qty_band, pos FROM li
      |), cells AS (
      |  SELECT feature, val, count(*) AS n_v,
      |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_v
      |  FROM melted GROUP BY 1, 2
      |), terms AS (
      |  SELECT feature, n_v, pos_v,
      |    CAST(2 * CAST(pos_v AS HUGEINT) * (n_v - pos_v) * 1000000 // n_v
      |      AS BIGINT) AS child_term
      |  FROM cells
      |), parent AS (
      |  SELECT CAST(sum(n_v) AS BIGINT) AS n,
      |    CAST(2 * CAST(sum(pos_v) AS HUGEINT)
      |      * (sum(n_v) - sum(pos_v)) * 1000000
      |      // (CAST(sum(n_v) AS HUGEINT) * sum(n_v)) AS BIGINT) AS parent_ppm
      |  FROM cells WHERE feature = 'returnflag'
      |)
      |SELECT t.feature, count(*) AS n_values,
      |  CAST(sum(t.child_term) AS BIGINT) // p.n AS child_gini_ppm,
      |  p.parent_ppm,
      |  p.parent_ppm - CAST(sum(t.child_term) AS BIGINT) // p.n AS gain_ppm
      |FROM terms t, parent p
      |GROUP BY t.feature, p.n, p.parent_ppm
      |ORDER BY gain_ppm DESC, t.feature""".stripMargin

  // -------------------------------------------------------------- q451

  /** q451: Hodges–Lehmann estimate of the location shift between the
    * 'click' and 'view' daily value-cents series: lower median (q374's
    * convention — smallest d with cumulative pair count ≥ (n+1) div 2)
    * of all n_x·n_y pairwise differences click_j − view_i. The pair
    * frame is 30×30 (the event window is fixed; SF grows events per
    * day, not days), broadcast on the smaller side.
    */
  def q451_hodges_lehmann(s: SparkSession, dir: String): DataFrame = {
    def daily(tpe: String) = Tables.events(s, dir)
      .filter(col("event_type") === tpe)
      .groupBy(expr("ts div 1000 div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val x = daily("view")
    val y = daily("click")
    val diffs = y.as("b").crossJoin(broadcast(x.as("a")))
      .select((col("b.cents") - col("a.cents")).as("d"))
    val counts = diffs.groupBy(col("d")).agg(count(lit(1)).as("c"))
    val cum = PrefixScan.prefixSumsInclusive(counts, 16,
      Seq(col("d")), Seq((col("c"), "cc")))
    val nx = x.agg(count(lit(1)).as("n_x"))
    val ny = y.agg(count(lit(1)).as("n_y"))
    cum.crossJoin(broadcast(nx)).crossJoin(broadcast(ny))
      .agg(min(col("n_x")).as("n_x"), min(col("n_y")).as("n_y"),
        min(expr("n_x * n_y")).as("n_pairs"),
        min(when(col("cc") >= expr("(n_x * n_y + 1) div 2"), col("d")))
          .as("hl_shift_cents"))
  }

  val q451Sql: String =
    """WITH x AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'view' GROUP BY 1
      |), y AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'click' GROUP BY 1
      |), diffs AS (
      |  SELECT y.cents - x.cents AS d FROM y, x
      |), ranked AS (
      |  SELECT d, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
      |  FROM diffs
      |), nn AS (
      |  SELECT (SELECT count(*) FROM x) AS n_x, (SELECT count(*) FROM y) AS n_y
      |)
      |SELECT nn.n_x, nn.n_y, nn.n_x * nn.n_y AS n_pairs,
      |  (SELECT min(d) FROM ranked
      |   WHERE i >= (nn.n_x * nn.n_y + 1) // 2) AS hl_shift_cents
      |FROM nn""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q448_youden_threshold", q448_youden_threshold _, q448Sql),
    Query("q449_capture_recapture", q449_capture_recapture _, q449Sql),
    Query("q450_gini_feature_ranking", q450_gini_feature_ranking _, q450Sql),
    Query("q451_hodges_lehmann", q451_hodges_lehmann _, q451Sql)
  )
}
