package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan
import QueryBlocks.FuncWords

/** Nominal prediction strength, the signed MCC,
  * ordered-dose trend, and the L2 change point — closing four named
  * gaps next to their already-registered neighbors.
  *
  *  - q472 Goodman–Kruskal lambda: proportional-reduction-in-error for
  *    NOMINAL prediction (predict lang from source and vice versa) —
  *    the nominal sibling of q438's ordinal gamma.
  *  - q473 Matthews correlation (signed MCC² in ppm): the
  *    all-four-cells classifier summary next to q448's Youden J and
  *    q461's AP — exact via q440's signed-square idiom (MCC itself
  *    needs a square root; sign·MCC²·10⁶ is rational and exact).
  *  - q474 Cochran–Armitage trend test: does urgent-order incidence
  *    TREND across customer-spend quintiles? χ²_CA = T_N²(N−1) div
  *    (A(N−A)(N·Σw²n − (Σwn)²)) with T_N = N·Σw·a − A·Σw·n — the
  *    algebraically exact classical statistic (reduces to the (N−1)
  *    chi-square at two groups); products ride DECIMAL(38,0), exact to
  *    N ~ 10⁹ (stated — beyond that T_N² needs more than 38 digits).
  *  - q475 L2 step-fit change point: the single split of the daily
  *    series maximizing the between-SSE surrogate g(k) =
  *    (S_L·n_R − S_R·n_L)² div (n_L·n_R) (monotone in the SSE drop at
  *    fixed n) — the mean-shift member of the change-point trio
  *    (q187 CUSUM = sequential excess, q460 Pettitt = rank-based).
  *
  * Scale shapes: q472/q473 one scan → category-bounded cells; q474
  * one rollup + PrefixScan quintiles + a 5-row stat; q475 a
  * day-window-bounded triangular broadcast join (30×30).
  */
object ExtensionQueries128 extends QueryGroup {

  // -------------------------------------------------------------- q472

  /** q472: λ(predict target | given) = (Σ_given max_target(cell) −
    * max_target(marginal))·1000 div (N − max_target(marginal)), one
    * row per direction. The contingency is category-bounded
    * (lang × source).
    */
  def q472_gk_lambda(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .transform(graft.core.CacheScope.scoped)
    def lambdaFor(given: String, target: String): DataFrame = {
      val within = cells.groupBy(col(given)).agg(max(col("n")).as("mx"))
        .agg(sum(col("mx")).as("sum_max_within"))
      val marginal = cells.groupBy(col(target)).agg(sum(col("n")).as("m"))
        .agg(max(col("m")).as("max_marginal"))
      val total = cells.agg(sum(col("n")).as("n_docs"))
      within.crossJoin(broadcast(marginal)).crossJoin(broadcast(total))
        .select(lit(s"$target|$given").as("direction"), col("n_docs"),
          col("sum_max_within"), col("max_marginal"),
          expr("(sum_max_within - max_marginal) * 1000 div (n_docs - max_marginal)")
            .as("lambda_milli"))
    }
    lambdaFor("source", "lang").unionAll(lambdaFor("lang", "source"))
      .orderBy(col("direction"))
  }

  val q472Sql: String = {
    def one(given: String, target: String) =
      s"""SELECT '$target|$given' AS direction,
         |  (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS n_docs,
         |  (SELECT CAST(sum(mx) AS BIGINT) FROM (
         |     SELECT max(n) AS mx FROM cells GROUP BY $given)) AS sum_max_within,
         |  (SELECT CAST(max(m) AS BIGINT) FROM (
         |     SELECT sum(n) AS m FROM cells GROUP BY $target)) AS max_marginal,
         |  ((SELECT CAST(sum(mx) AS BIGINT) FROM (
         |      SELECT max(n) AS mx FROM cells GROUP BY $given))
         |   - (SELECT CAST(max(m) AS BIGINT) FROM (
         |      SELECT sum(n) AS m FROM cells GROUP BY $target))) * 1000
         |  // ((SELECT CAST(sum(n) AS BIGINT) FROM cells)
         |   - (SELECT CAST(max(m) AS BIGINT) FROM (
         |      SELECT sum(n) AS m FROM cells GROUP BY $target))) AS lambda_milli""".stripMargin
    s"""WITH cells AS (
       |  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2
       |)
       |${one("source", "lang")}
       |UNION ALL
       |${one("lang", "source")}
       |ORDER BY direction""".stripMargin
  }

  // -------------------------------------------------------------- q473

  /** q473: predict en iff function-word score ≥ 100000 ppm (a fixed
    * operating point — q448 finds the optimal one; this evaluates a
    * deployed one). mcc2_signed_ppm = sign(TP·TN − FP·FN) ·
    * (TP·TN − FP·FN)²·10⁶ div ((TP+FP)(TP+FN)(TN+FP)(TN+FN)); NULL
    * when any margin is empty (stated).
    */
  def q473_matthews_mcc(s: SparkSession, dir: String): DataFrame = {
    val fw = FuncWords.map(w => s"'$w'").mkString(", ")
    val scored = Tables.documents(s, dir)
      .select((col("lang") === "en").as("pos"), split(col("text"), " ").as("ts"))
      .select(col("pos"),
        (expr(s"size(filter(ts, t -> t IN ($fw))) * 1000000 div size(ts)") >= 100000L)
          .as("pred"))
    scored.agg(
        sum(when(col("pred") && col("pos"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("pos"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("pos"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && !col("pos"), 1L).otherwise(0L)).as("tn"))
      .select(lit(100000L).as("threshold_ppm"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CASE WHEN (tp + fp) = 0 OR (tp + fn) = 0 OR (tn + fp) = 0 OR (tn + fn) = 0 " +
          "THEN CAST(NULL AS BIGINT) ELSE CAST(" +
          "CASE WHEN CAST(tp AS DECIMAL(38,0)) * tn - CAST(fp AS DECIMAL(38,0)) * fn < 0 " +
          "THEN -1 ELSE 1 END * " +
          "(CAST(tp AS DECIMAL(38,0)) * tn - CAST(fp AS DECIMAL(38,0)) * fn) * " +
          "(CAST(tp AS DECIMAL(38,0)) * tn - CAST(fp AS DECIMAL(38,0)) * fn) * 1000000 div " +
          "(CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn) * (tn + fp) * (tn + fn)) AS BIGINT) END")
          .as("mcc2_signed_ppm"))
  }

  val q473Sql: String = {
    val fw = FuncWords.map(w => s"'$w'").mkString(", ")
    s"""WITH scored AS (
       |  SELECT (lang = 'en') AS pos,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($fw)))
       |      AS BIGINT) * 1000000 // len(string_split(text, ' ')) >= 100000 AS pred
       |  FROM documents
       |), c AS (
       |  SELECT
       |    CAST(sum(CASE WHEN pred AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN pred AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN NOT pred AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(sum(CASE WHEN NOT pred AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM scored
       |)
       |SELECT CAST(100000 AS BIGINT) AS threshold_ppm, tp, fp, fn, tn,
       |  CASE WHEN (tp + fp) = 0 OR (tp + fn) = 0 OR (tn + fp) = 0 OR (tn + fn) = 0
       |  THEN CAST(NULL AS BIGINT) ELSE CAST(
       |    CASE WHEN CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn < 0
       |    THEN -1 ELSE 1 END *
       |    (CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn) *
       |    (CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn) * 1000000 //
       |    (CAST(tp + fp AS HUGEINT) * (tp + fn) * (tn + fp) * (tn + fn)) AS BIGINT) END
       |    AS mcc2_signed_ppm
       |FROM c""".stripMargin
  }

  // -------------------------------------------------------------- q474

  /** q474: quintiles of customer spend (PrefixScan rank over
    * (cents DESC, custkey)), outcome = placed ≥1 URGENT order, scores
    * w = quintile index 0..4. T_N = N·Σw·a − A·Σw·n;
    * chi2_ca_milli = sign-preserving T_N²(N−1)·1000 div
    * (A(N−A)(N·Σw²n − (Σwn)²)) — exact (DECIMAL(38,0) products,
    * valid to N ~ 10⁹, stated).
    */
  def q474_cochran_armitage(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("cents"),
        max(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("pos"))
    val ranked = PrefixScan.prefixSumsInclusive(cust, 16,
      Seq((col("cents") * -1).as("neg"), col("o_custkey")), Seq((lit(1L), "i")))
    val n = cust.agg(count(lit(1)).as("n"))
    val groups = ranked.crossJoin(broadcast(n))
      .select(expr("(i - 1) * 5 div n").as("w"), col("pos"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_g"), sum(col("pos")).as("a_g"))
    groups.agg(sum(col("n_g")).as("nn"), sum(col("a_g")).as("aa"),
        sum(expr("w * a_g")).as("swa"), sum(expr("w * n_g")).as("swn"),
        sum(expr("w * w * n_g")).as("swwn"))
      .select(col("nn").as("n_customers"), col("aa").as("n_urgent"),
        expr("CAST(CAST(nn AS DECIMAL(38,0)) * swa - CAST(aa AS DECIMAL(38,0)) * swn AS BIGINT)")
          .as("t_n"),
        expr("CAST(CASE WHEN CAST(nn AS DECIMAL(38,0)) * swa - CAST(aa AS DECIMAL(38,0)) * swn < 0 " +
          "THEN -1 ELSE 1 END * " +
          "(CAST(nn AS DECIMAL(38,0)) * swa - CAST(aa AS DECIMAL(38,0)) * swn) * " +
          "(CAST(nn AS DECIMAL(38,0)) * swa - CAST(aa AS DECIMAL(38,0)) * swn) * (nn - 1) * 1000 div " +
          "(CAST(aa AS DECIMAL(38,0)) * (nn - aa) * " +
          "(CAST(nn AS DECIMAL(38,0)) * swwn - CAST(swn AS DECIMAL(38,0)) * swn)) AS BIGINT)")
          .as("chi2_ca_signed_milli"))
  }

  val q474Sql: String =
    """WITH cust AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
      |    CAST(max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos
      |  FROM orders GROUP BY o_custkey
      |), ranked AS (
      |  SELECT pos,
      |    CAST(row_number() OVER (ORDER BY -cents, o_custkey) AS BIGINT) AS i
      |  FROM cust
      |), nt AS (SELECT count(*) AS n FROM cust),
      |groups AS (
      |  SELECT (i - 1) * 5 // nt.n AS w, count(*) AS n_g,
      |    CAST(sum(pos) AS BIGINT) AS a_g
      |  FROM ranked, nt GROUP BY 1
      |), agg AS (
      |  SELECT CAST(sum(n_g) AS BIGINT) AS nn, CAST(sum(a_g) AS BIGINT) AS aa,
      |    CAST(sum(w * a_g) AS BIGINT) AS swa, CAST(sum(w * n_g) AS BIGINT) AS swn,
      |    CAST(sum(w * w * n_g) AS BIGINT) AS swwn
      |  FROM groups
      |)
      |SELECT nn AS n_customers, aa AS n_urgent,
      |  CAST(CAST(nn AS HUGEINT) * swa - CAST(aa AS HUGEINT) * swn AS BIGINT) AS t_n,
      |  CAST(CASE WHEN CAST(nn AS HUGEINT) * swa - CAST(aa AS HUGEINT) * swn < 0
      |    THEN -1 ELSE 1 END *
      |    (CAST(nn AS HUGEINT) * swa - CAST(aa AS HUGEINT) * swn) *
      |    (CAST(nn AS HUGEINT) * swa - CAST(aa AS HUGEINT) * swn) * (nn - 1) * 1000 //
      |    (CAST(aa AS HUGEINT) * (nn - aa) *
      |     (CAST(nn AS HUGEINT) * swwn - CAST(swn AS HUGEINT) * swn)) AS BIGINT)
      |    AS chi2_ca_signed_milli
      |FROM agg""".stripMargin

  // -------------------------------------------------------------- q475

  /** q475: over split days k (each day except the last): S_L/n_L over
    * days ≤ k, S_R/n_R over days > k; g(k) = (S_L·n_R − S_R·n_L)² div
    * (n_L·n_R). Best row = argmax g, ties to the earliest day. Means
    * emitted in milli (sum·1000 div n).
    */
  def q475_step_changepoint(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(s, dir)
      .groupBy(expr("ts div 1000 div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_ev"))
    val grid = d.select(col("day").as("k"))
    val sides = grid.crossJoin(broadcast(d))
      .select(col("k"), col("day"), col("n_ev"))
    val stats = sides.groupBy(col("k"))
      .agg(sum(when(col("day") <= col("k"), 1L).otherwise(0L)).as("n_l"),
        sum(when(col("day") <= col("k"), col("n_ev")).otherwise(0L)).as("s_l"),
        sum(when(col("day") > col("k"), 1L).otherwise(0L)).as("n_r"),
        sum(when(col("day") > col("k"), col("n_ev")).otherwise(0L)).as("s_r"))
      .filter(col("n_r") > 0)
    stats
      .select(col("k"), col("n_l"), col("n_r"),
        expr("s_l * 1000 div n_l").as("mean_l_milli"),
        expr("s_r * 1000 div n_r").as("mean_r_milli"),
        expr("CAST((CAST(s_l AS DECIMAL(38,0)) * n_r - CAST(s_r AS DECIMAL(38,0)) * n_l) * " +
          "(CAST(s_l AS DECIMAL(38,0)) * n_r - CAST(s_r AS DECIMAL(38,0)) * n_l) div " +
          "(CAST(n_l AS DECIMAL(38,0)) * n_r) AS BIGINT)").as("g_stat"))
      .orderBy(col("g_stat").desc, col("k"))
      .limit(1)
  }

  val q475Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n_ev
      |  FROM events GROUP BY 1
      |), grid AS (SELECT day AS k FROM daily),
      |stats AS (
      |  SELECT g.k,
      |    CAST(sum(CASE WHEN d.day <= g.k THEN 1 ELSE 0 END) AS BIGINT) AS n_l,
      |    CAST(sum(CASE WHEN d.day <= g.k THEN d.n_ev ELSE 0 END) AS BIGINT) AS s_l,
      |    CAST(sum(CASE WHEN d.day > g.k THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
      |    CAST(sum(CASE WHEN d.day > g.k THEN d.n_ev ELSE 0 END) AS BIGINT) AS s_r
      |  FROM grid g CROSS JOIN daily d GROUP BY g.k
      |)
      |SELECT k, n_l, n_r,
      |  s_l * 1000 // n_l AS mean_l_milli,
      |  s_r * 1000 // n_r AS mean_r_milli,
      |  CAST((CAST(s_l AS HUGEINT) * n_r - CAST(s_r AS HUGEINT) * n_l) *
      |       (CAST(s_l AS HUGEINT) * n_r - CAST(s_r AS HUGEINT) * n_l) //
      |       (CAST(n_l AS HUGEINT) * n_r) AS BIGINT) AS g_stat
      |FROM stats WHERE n_r > 0
      |ORDER BY g_stat DESC, k LIMIT 1""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q472_gk_lambda", q472_gk_lambda _, q472Sql),
    Query("q473_matthews_mcc", q473_matthews_mcc _, q473Sql),
    Query("q474_cochran_armitage", q474_cochran_armitage _, q474Sql),
    Query("q475_step_changepoint", q475_step_changepoint _, q475Sql)
  )
}
