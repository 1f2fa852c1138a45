package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan
import QueryBlocks.{daily, DailySql, FuncWords}

/** Where (not whether) a series changed, and the
  * ranking/shift readouts next to the round's threshold tier.
  *
  *  - q460 Pettitt change-point test: the rank-based (Mann–Whitney
  *    derived) single change-point locator — q187's CUSUM cumulates
  *    excess over a reference level (parametric in scale); Pettitt is
  *    distribution-free and names THE most likely break day with a
  *    max-|U_k| statistic.
  *  - q461 average precision (area under the precision–recall curve,
  *    exact): the ranking metric that matters when positives are rare
  *    — q178's ROC-AUC twin on the PR side, exact in ppm via one
  *    PrefixScan (P@k summed at positive ranks, stated truncation).
  *  - q462 Doksum shift function at the deciles: the per-quantile
  *    view of the click-vs-view location shift whose single-number
  *    summary is q451's Hodges–Lehmann — reads whether the shift is
  *    uniform or concentrated in one tail.
  *  - q463 weekday-adjusted anomaly days: residuals against the
  *    integer weekday mean (q209's seasonality), flagged by the
  *    robust 3σ-equivalent |r|·1000 > 4448·MAD rule (1.4826·3 scaled
  *    milli, stated) — "which days broke the weekly pattern".
  *
  * Scale shapes: every frame is the 30-day window (SF grows events per
  * day, not days): q460's triple join is 30×30×30 broadcast-bounded,
  * q462/q463 rank via 30×30 triangular joins; q461 is doc-linear
  * through ONE PrefixScan. All integer-exact.
  */
object ExtensionQueries125 extends QueryGroup {

  // -------------------------------------------------------------- q460

  /** q460: U_k = Σ_{i≤k} Σ_{j>k} sgn(x_i − x_j) for every split day k
    * (the last day splits nothing: its j>k side is empty, so the inner
    * join drops it — its U would be 0, never a strict argmax). Change
    * day = argmax |U_k|, ties broken toward the EARLIEST day (stated).
    */
  def q460_pettitt_changepoint(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
    val grid = d.select(col("day").as("k"))
    val u = grid.join(broadcast(d.as("a")), col("a.day") <= col("k"))
      .join(broadcast(d.as("b")), col("b.day") > col("k"))
      .groupBy(col("k"))
      .agg(sum(when(col("a.n_ev") > col("b.n_ev"), 1L)
        .when(col("a.n_ev") < col("b.n_ev"), -1L).otherwise(0L)).as("u"))
    val nDays = d.agg(count(lit(1)).as("n_days"))
    u.crossJoin(broadcast(nDays))
      .orderBy(abs(col("u")).desc, col("k"))
      .limit(1)
      .select(col("n_days"), col("k").as("change_day"), col("u").as("u_signed"),
        abs(col("u")).as("u_abs"))
  }

  val q460Sql: String =
    s"""WITH daily AS ($DailySql),
       |grid AS (SELECT day AS k FROM daily),
       |u AS (
       |  SELECT g.k,
       |    CAST(sum(CASE WHEN a.n_ev > b.n_ev THEN 1
       |      WHEN a.n_ev < b.n_ev THEN -1 ELSE 0 END) AS BIGINT) AS u
       |  FROM grid g
       |  JOIN daily a ON a.day <= g.k
       |  JOIN daily b ON b.day > g.k
       |  GROUP BY g.k
       |), nd AS (SELECT count(*) AS n_days FROM daily)
       |SELECT nd.n_days, u.k AS change_day, u.u AS u_signed, abs(u.u) AS u_abs
       |FROM u, nd ORDER BY abs(u.u) DESC, u.k LIMIT 1""".stripMargin

  // -------------------------------------------------------------- q461

  /** q461: exact average precision of the function-word score against
    * lang = 'en', ranked by (score DESC, doc_id) total order.
    * P@k_ppm = cumpos·10⁶ div k at each positive rank (per-rank
    * truncation, stated); ap_ppm = Σ P@k_ppm div n_pos.
    */
  def q461_average_precision(s: SparkSession, dir: String): DataFrame = {
    val fw = FuncWords.map(w => s"'$w'").mkString(", ")
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), (col("lang") === "en").as("pos"),
        split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("pos"),
        expr(s"size(filter(ts, t -> t IN ($fw))) * 1000000 div size(ts)").as("score"))
    val ranked = PrefixScan.prefixSumsInclusive(scored, 16,
      Seq((col("score") * -1).as("negs"), col("doc_id")),
      Seq((lit(1L), "k"), (when(col("pos"), 1L).otherwise(0L), "cumpos")))
    ranked.agg(count(lit(1)).as("n_docs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("pos"), expr("cumpos * 1000000 div k")).otherwise(0L))
          .as("psum"))
      .select(col("n_docs"), col("n_pos"),
        expr("n_pos * 1000000 div n_docs").as("prevalence_ppm"),
        expr("psum div n_pos").as("ap_ppm"))
  }

  val q461Sql: String = {
    val fw = FuncWords.map(w => s"'$w'").mkString(", ")
    s"""WITH scored AS (
       |  SELECT doc_id, (lang = 'en') AS pos,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($fw)))
       |      AS BIGINT) * 1000000 // len(string_split(text, ' ')) AS score
       |  FROM documents
       |), ranked AS (
       |  SELECT pos,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS k,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END)
       |      OVER (ORDER BY score DESC, doc_id
       |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumpos
       |  FROM scored
       |)
       |SELECT count(*) AS n_docs,
       |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |    // count(*) AS prevalence_ppm,
       |  CAST(sum(CASE WHEN pos THEN cumpos * 1000000 // k ELSE 0 END)
       |    AS BIGINT) // CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
       |    AS ap_ppm
       |FROM ranked""".stripMargin
  }

  // -------------------------------------------------------------- q462

  /** q462: Doksum shift function at deciles q = 1..9 between the
    * 'view' (x) and 'click' (y) daily value-cents series: the exact
    * lower quantile at rank r = (q·n + 9) div 10 (ceiling, stated;
    * ties rank by (cents, day)), shift_q = y_q − x_q.
    */
  def q462_quantile_shift(s: SparkSession, dir: String): DataFrame = {
    def series(tpe: String) = Tables.events(s, dir)
      .filter(col("event_type") === tpe)
      .groupBy(expr("ts div 1000 div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    def quantiles(df: DataFrame, out: String) = {
      val ranked = df.as("a").join(broadcast(df.as("b")),
          col("b.cents") < col("a.cents") ||
            (col("b.cents") === col("a.cents") && col("b.day") <= col("a.day")))
        .groupBy(col("a.day").as("day"), col("a.cents").as("cents"))
        .agg(count(lit(1)).as("r"))
      val n = df.agg(count(lit(1)).as("n"))
      val grid = s.range(1, 10).select(col("id").as("q"))
      grid.crossJoin(broadcast(n))
        .join(broadcast(ranked), col("r") >= expr("(q * n + 9) div 10"))
        .groupBy(col("q")).agg(min(col("cents")).as(out))
    }
    quantiles(series("view"), "x_q")
      .join(quantiles(series("click"), "y_q"), Seq("q"))
      .select(col("q"), col("x_q"), col("y_q"),
        (col("y_q") - col("x_q")).as("shift_cents"))
      .orderBy(col("q"))
  }

  val q462Sql: String = {
    def series(tpe: String) =
      s"""SELECT epoch_us(ts) // 86400000000 AS day,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM events WHERE event_type = '$tpe' GROUP BY 1""".stripMargin
    def quant(src: String, out: String) =
      s"""SELECT g.q, min(r.cents) AS $out
         |  FROM (SELECT unnest(range(1, 10)) AS q) g
         |  CROSS JOIN (SELECT count(*) AS n FROM $src) nn
         |  JOIN (
         |    SELECT a.day, a.cents,
         |      CAST(row_number() OVER (ORDER BY cents, day) AS BIGINT) AS r
         |    FROM $src a) r ON r.r >= (g.q * nn.n + 9) // 10
         |  GROUP BY g.q""".stripMargin
    s"""WITH x AS (${series("view")}),
       |y AS (${series("click")}),
       |qx AS (${quant("x", "x_q")}),
       |qy AS (${quant("y", "y_q")})
       |SELECT qx.q, qx.x_q, qy.y_q, qy.y_q - qx.x_q AS shift_cents
       |FROM qx JOIN qy ON qx.q = qy.q ORDER BY qx.q""".stripMargin
  }

  // -------------------------------------------------------------- q463

  /** q463: residual r = n_ev − weekday mean (integer div, stated; dow
    * = (day+4)%7, Sunday 0), MAD = exact lower median of |r| (rank
    * (n+1) div 2 by (|r|, day)), anomaly iff |r|·1000 > 4448·MAD
    * (3·1.4826 scaled milli). One 30-row audit frame out.
    */
  def q463_weekday_anomalies(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir).withColumn("dow", expr("(day + 4) % 7"))
    val dowMean = d.groupBy(col("dow"))
      .agg(expr("sum(n_ev) div count(1)").as("dow_mean"))
    val resid = d.join(broadcast(dowMean), Seq("dow"))
      .select(col("day"), col("dow"), col("n_ev"),
        (col("n_ev") - col("dow_mean")).as("resid"))
    val rankedAbs = resid.as("a").join(broadcast(resid.as("b")),
        abs(col("b.resid")) < abs(col("a.resid")) ||
          (abs(col("b.resid")) === abs(col("a.resid")) && col("b.day") <= col("a.day")))
      .groupBy(col("a.day")).agg(count(lit(1)).as("r"), min(abs(col("a.resid"))).as("ar"))
    val nDays = resid.agg(count(lit(1)).as("n"))
    val mad = rankedAbs.crossJoin(broadcast(nDays))
      .filter(col("r") >= expr("(n + 1) div 2"))
      .agg(min(col("ar")).as("mad"))
    resid.crossJoin(broadcast(mad))
      .select(col("day"), col("dow"), col("n_ev"), col("resid"), col("mad"),
        (abs(col("resid")) * 1000 > col("mad") * 4448).as("is_anomaly"))
      .orderBy(col("day"))
  }

  val q463Sql: String =
    s"""WITH daily AS ($DailySql),
       |d AS (SELECT day, (day + 4) % 7 AS dow, n_ev FROM daily),
       |dm AS (
       |  SELECT dow, CAST(sum(n_ev) AS BIGINT) // count(*) AS dow_mean
       |  FROM d GROUP BY dow
       |), resid AS (
       |  SELECT d.day, d.dow, d.n_ev, d.n_ev - dm.dow_mean AS resid
       |  FROM d JOIN dm ON d.dow = dm.dow
       |), ranked AS (
       |  SELECT day, abs(resid) AS ar,
       |    CAST(row_number() OVER (ORDER BY abs(resid), day) AS BIGINT) AS r
       |  FROM resid
       |), nd AS (SELECT count(*) AS n FROM resid),
       |mad AS (
       |  SELECT min(ar) AS mad FROM ranked, nd WHERE r >= (nd.n + 1) // 2
       |)
       |SELECT resid.day, resid.dow, resid.n_ev, resid.resid, mad.mad,
       |  abs(resid.resid) * 1000 > mad.mad * 4448 AS is_anomaly
       |FROM resid, mad ORDER BY resid.day""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q460_pettitt_changepoint", q460_pettitt_changepoint _, q460Sql),
    Query("q461_average_precision", q461_average_precision _, q461Sql),
    Query("q462_quantile_shift", q462_quantile_shift _, q462Sql),
    Query("q463_weekday_anomalies", q463_weekday_anomalies _, q463Sql)
  )
}
