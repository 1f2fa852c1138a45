package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan

/** Round-13 batch 14: principled attribution, paired nonparametrics,
  * and survey reweighting.
  *
  *  - q394 Shapley-value channel attribution (the data-driven
  *    attribution model) — q173's positional multitouch splits credit
  *    by rule; Shapley splits by each channel's MARGINAL contribution
  *    to the conversion rate across all 2³ channel-presence
  *    coalitions. n=3 makes the weights the exact sixths 2/6, 1/6,
  *    2/6, so φ is integer ppm; the efficiency axiom
  *    Σφ = v(full) − v(∅) is spec-pinned to within div truncation.
  *  - q395 Wilcoxon signed-rank over paired per-customer half-period
  *    spends — the paired complement to q178's Mann–Whitney (unpaired)
  *    and the nonparametric sibling of q379's CUPED pairing. Average
  *    ranks for ties via the integer double-rank 2F+c+1; z in milli
  *    with the tie-corrected variance under floor(sqrt) (radicand
  *    v48 div 12 < 2⁵³ through sf1, truncation documented).
  *  - q396 post-stratified estimation — respondent means reweighted to
  *    population segment shares (q381 plans the sample; this corrects
  *    the estimate after the fact). Exact milli/micro integer
  *    contributions that telescope to the adjusted estimate.
  */
object ExtensionQueries101 extends QueryGroup {

  // --------------------------------------------------------------- q394

  /** q394: per channel — the Shapley ppm credit for the purchase rate.
    * Coalition = the user's presence set over {click, view, signup};
    * v(mask) = purchase rate among users with exactly that set (0 for
    * empty coalitions, documented). Scale shape: one per-user rollup,
    * an 8-row conditional pivot, literal Shapley formulas, a 3-row
    * stack.
    */
  def q394_shapley_attribution(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        max(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
        max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("g"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .select((col("c") + col("v") * 2 + col("g") * 4).as("mask"), col("y"))
    val rates = users.groupBy(col("mask"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
    val vCols = (0 to 7).map(m =>
      coalesce(max(when(col("mask") === m,
        expr("k * 1000000 div n"))), lit(0L)).as(s"v$m"))
    val wide = rates.agg(vCols.head, vCols.tail: _*)
    wide.select(expr(
      """stack(3,
        |  'click',  (2 * (v1 - v0) + (v3 - v2) + (v5 - v4) + 2 * (v7 - v6)) div 6,
        |  'view',   (2 * (v2 - v0) + (v3 - v1) + (v6 - v4) + 2 * (v7 - v5)) div 6,
        |  'signup', (2 * (v4 - v0) + (v5 - v1) + (v6 - v2) + 2 * (v7 - v3)) div 6
        |) AS (channel, phi_ppm)""".stripMargin),
      col("v7").as("v_full_ppm"), col("v0").as("v_empty_ppm"))
      .orderBy(col("channel"))
  }

  val q394Sql: String =
    """WITH users AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      + 2 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS mask,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM events GROUP BY 1
      |), rates AS (
      |  SELECT mask, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS k
      |  FROM users GROUP BY 1
      |), wide AS (
      |  SELECT
      |    coalesce(max(CASE WHEN mask = 0 THEN k * 1000000 // n END), 0) AS v0,
      |    coalesce(max(CASE WHEN mask = 1 THEN k * 1000000 // n END), 0) AS v1,
      |    coalesce(max(CASE WHEN mask = 2 THEN k * 1000000 // n END), 0) AS v2,
      |    coalesce(max(CASE WHEN mask = 3 THEN k * 1000000 // n END), 0) AS v3,
      |    coalesce(max(CASE WHEN mask = 4 THEN k * 1000000 // n END), 0) AS v4,
      |    coalesce(max(CASE WHEN mask = 5 THEN k * 1000000 // n END), 0) AS v5,
      |    coalesce(max(CASE WHEN mask = 6 THEN k * 1000000 // n END), 0) AS v6,
      |    coalesce(max(CASE WHEN mask = 7 THEN k * 1000000 // n END), 0) AS v7
      |  FROM rates
      |)
      |SELECT channel, CAST(phi_ppm AS BIGINT) AS phi_ppm,
      |  CAST(v7 AS BIGINT) AS v_full_ppm, CAST(v0 AS BIGINT) AS v_empty_ppm
      |FROM (
      |  SELECT 'click' AS channel,
      |    (2 * (v1 - v0) + (v3 - v2) + (v5 - v4) + 2 * (v7 - v6)) // 6 AS phi_ppm,
      |    v7, v0 FROM wide
      |  UNION ALL SELECT 'signup',
      |    (2 * (v4 - v0) + (v5 - v1) + (v6 - v2) + 2 * (v7 - v3)) // 6, v7, v0
      |  FROM wide
      |  UNION ALL SELECT 'view',
      |    (2 * (v2 - v0) + (v3 - v1) + (v6 - v4) + 2 * (v7 - v5)) // 6, v7, v0
      |  FROM wide
      |)
      |ORDER BY channel""".stripMargin

  // --------------------------------------------------------------- q395

  /** q395: Wilcoxon signed-rank on per-customer (second-half −
    * first-half) spend in dollars. 2W⁺ = Σ_{d>0} (2F + c + 1) over the
    * |d| groups (integer average ranks); z_milli = num2·1000 div
    * floor(sqrt(v48 div 12)). Scale shape: per-customer conditional
    * rollup, |d| group counts, one PrefixScan cumulative, 1-row fold.
    */
  def q395_wilcoxon_signed_rank(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_custkey"),
      datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("day"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100").as("dollars"))
    val split = o.agg(expr("(min(day) + (max(day) - min(day)) div 2)").as("d_split"))
    val diffs = o.crossJoin(broadcast(split))
      .groupBy(col("o_custkey"))
      .agg((sum(when(col("day") > col("d_split"), col("dollars")).otherwise(0L)) -
        sum(when(col("day") <= col("d_split"), col("dollars")).otherwise(0L))).as("d"))
      .filter(col("d") =!= 0)
      .select(abs(col("d")).as("ad"), (col("d") > 0).as("pos"))
    val groups = diffs.groupBy(col("ad"))
      .agg(count(lit(1)).as("c"), sum(when(col("pos"), 1L).otherwise(0L)).as("np"))
    val cum = PrefixScan.prefixSumsInclusive(groups, 16,
      Seq(col("ad")), Seq((col("c"), "cc")))
    val fold = cum.agg(
      sum(col("c")).as("n"),
      sum(expr("np * (2 * (cc - c) + c + 1)")).as("w2_pos"),
      sum(expr("c * c * c - c")).as("tie48"))
    fold.select(col("n"), col("w2_pos"),
        expr("w2_pos - n * (n + 1) div 2").as("num2"),
        expr("2 * n * (n + 1) * (2 * n + 1) - tie48").as("v48"))
      .withColumn("z_milli",
        expr("CASE WHEN v48 = 0 THEN 0 ELSE num2 * 1000 div " +
          "CAST(floor(sqrt(CAST(v48 div 12 AS DOUBLE))) AS BIGINT) END"))
      .select(col("n"), col("w2_pos"), col("num2"), col("v48"), col("z_milli"))
  }

  val q395Sql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(round(o_totalprice * 100) AS BIGINT) // 100 AS dollars
      |  FROM orders
      |), sp AS (SELECT min(day) + (max(day) - min(day)) // 2 AS d_split FROM o),
      |diffs AS (
      |  SELECT abs(d) AS ad, d > 0 AS pos FROM (
      |    SELECT o_custkey,
      |      CAST(sum(CASE WHEN day > sp.d_split THEN dollars ELSE 0 END)
      |        - sum(CASE WHEN day <= sp.d_split THEN dollars ELSE 0 END) AS BIGINT) AS d
      |    FROM o, sp GROUP BY o_custkey
      |  ) WHERE d <> 0
      |), g AS (
      |  SELECT ad, count(*) AS c,
      |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np
      |  FROM diffs GROUP BY 1
      |), cum AS (
      |  SELECT c, np, CAST(sum(c) OVER (ORDER BY ad
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc
      |  FROM g
      |), fold AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n,
      |    CAST(sum(np * (2 * (cc - c) + c + 1)) AS BIGINT) AS w2_pos,
      |    CAST(sum(c * c * c - c) AS BIGINT) AS tie48
      |  FROM cum
      |)
      |SELECT n, w2_pos, w2_pos - n * (n + 1) // 2 AS num2,
      |  2 * n * (n + 1) * (2 * n + 1) - tie48 AS v48,
      |  CAST(CASE WHEN 2 * n * (n + 1) * (2 * n + 1) - tie48 = 0 THEN 0 ELSE
      |    (w2_pos - n * (n + 1) // 2) * 1000 //
      |    CAST(floor(sqrt(CAST((2 * n * (n + 1) * (2 * n + 1) - tie48) // 12
      |      AS DOUBLE))) AS BIGINT) END AS BIGINT) AS z_milli
      |FROM fold""".stripMargin

  // --------------------------------------------------------------- q396

  /** q396: post-stratified mean orders-per-customer by market segment:
    * population counts N_h from the customer dim, respondents =
    * customers with ≥ 1 order, ȳ_h in milli, and the segment's
    * contribution N_h·ȳ_h·1000 div N to the adjusted estimate in
    * micro. Scale shape: one order rollup left-joined to the customer dim
    * (a shuffle join: Spark cannot build the preserved side of a left
    * join, and the rollup grows with the customers), 5-group fold, 1-row
    * population total broadcast.
    */
  def q396_post_stratified(s: SparkSession, dir: String): DataFrame = {
    val pop = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val resp = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val seg = pop.join(resp, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_pop"),
        sum(when(col("n_orders").isNotNull, 1L).otherwise(0L)).as("n_resp"),
        coalesce(sum(col("n_orders")), lit(0L)).as("orders"))
    val tot = seg.agg(sum(col("n_pop")).as("n_total"))
    seg.crossJoin(broadcast(tot))
      .select(col("c_mktsegment"), col("n_pop"), col("n_resp"),
        expr("n_resp * 1000000 div n_pop").as("resp_rate_ppm"),
        expr("orders * 1000 div n_resp").as("ybar_milli"),
        expr("n_pop * (orders * 1000 div n_resp) * 1000 div n_total")
          .as("contrib_post_micro"))
      .orderBy(col("c_mktsegment"))
  }

  val q396Sql: String =
    """WITH resp AS (
      |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1
      |), seg AS (
      |  SELECT c.c_mktsegment, count(*) AS n_pop,
      |    CAST(sum(CASE WHEN r.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_resp,
      |    CAST(coalesce(sum(r.n_orders), 0) AS BIGINT) AS orders
      |  FROM customer c LEFT JOIN resp r ON r.o_custkey = c.c_custkey
      |  GROUP BY 1
      |), tot AS (SELECT CAST(sum(n_pop) AS BIGINT) AS n_total FROM seg)
      |SELECT c_mktsegment, n_pop, n_resp,
      |  CAST(n_resp * 1000000 // n_pop AS BIGINT) AS resp_rate_ppm,
      |  CAST(orders * 1000 // n_resp AS BIGINT) AS ybar_milli,
      |  CAST(n_pop * (orders * 1000 // n_resp) * 1000 // tot.n_total AS BIGINT)
      |    AS contrib_post_micro
      |FROM seg, tot ORDER BY c_mktsegment""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q394_shapley_attribution", q394_shapley_attribution _, q394Sql),
    Query("q395_wilcoxon_signed_rank", q395_wilcoxon_signed_rank _, q395Sql),
    Query("q396_post_stratified", q396_post_stratified _, q396Sql)
  )
}
