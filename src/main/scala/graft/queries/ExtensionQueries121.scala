package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan
import QueryBlocks.FuncWords

/** Classifier-quality readouts — calibration and
  * targeting economics. q178's AUC answers "does the score rank well";
  * these answer the two questions deployment actually asks next: can
  * the score's VALUE be read as a probability (q446), and how much of
  * the target does the top of the ranking capture (q447).
  *
  *  - q446 calibration table + ECE for the function-word English
  *    heuristic against the lang label: docs ranked by score into
  *    deciles (PrefixScan ranks, never a partition-less ntile), per
  *    decile the mean score (confidence) vs the empirical positive
  *    rate, and the expected calibration error
  *    ECE_ppm = Σ_b n_b·|conf_b − acc_b| div N.
  *  - q447 cumulative gains / decile lift on customer spend vs the
  *    has-urgent-order target: top-spend deciles accumulated through
  *    a 10×10 triangular broadcast join (cum gains), with
  *    lift_milli = capture-rate over base-rate — the table a
  *    targeting decision reads off.
  *
  * Scale shapes: one rollup each + PrefixScan range-partitioned ranks;
  * the decile frames are 10 rows (category-bounded) before any join.
  * All integer-exact; per-bucket truncation conventions stated inline.
  */
object ExtensionQueries121 extends QueryGroup {

  // -------------------------------------------------------------- q446

  /** q446: decile rows (decile, n, conf_ppm, acc_ppm, gap_ppm) plus the
    * global ece_ppm repeated per row (single-frame output contract).
    * score_ppm = function-word tokens·10⁶ div tokens; positives are
    * lang = 'en'; decile = (rank−1)·10 div N over (score, doc_id)
    * total order.
    */
  def q446_calibration_ece(s: SparkSession, dir: String): DataFrame = {
    val fw = FuncWords.map(w => s"'$w'").mkString(", ")
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), (col("lang") === "en").as("pos"),
        split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("pos"),
        expr(s"size(filter(ts, t -> t IN ($fw))) * 1000000 div size(ts)").as("score"))
    val ranked = PrefixScan.prefixSumsInclusive(scored, 16,
      Seq(col("score"), col("doc_id")), Seq((lit(1L), "i")))
    val n = scored.agg(count(lit(1)).as("n"))
    val buckets = ranked.crossJoin(broadcast(n))
      .select(expr("(i - 1) * 10 div n").as("decile"), col("score"), col("pos"), col("n"))
      .groupBy(col("decile"), col("n"))
      .agg(count(lit(1)).as("n_docs"), sum(col("score")).as("ssum"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("npos"))
      .select(col("decile"), col("n"), col("n_docs"),
        expr("ssum div n_docs").as("conf_ppm"),
        expr("npos * 1000000 div n_docs").as("acc_ppm"))
      .withColumn("gap_ppm", abs(col("conf_ppm") - col("acc_ppm")))
    val ece = buckets.agg(
      expr("sum(n_docs * gap_ppm) div sum(n_docs)").as("ece_ppm"))
    buckets.crossJoin(broadcast(ece))
      .select(col("decile"), col("n_docs"), col("conf_ppm"), col("acc_ppm"),
        col("gap_ppm"), col("ece_ppm"))
      .orderBy(col("decile"))
  }

  val q446Sql: String = {
    val fw = FuncWords.map(w => s"'$w'").mkString(", ")
    s"""WITH scored AS (
       |  SELECT doc_id, (lang = 'en') AS pos,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($fw)))
       |      AS BIGINT) * 1000000 // len(string_split(text, ' ')) AS score
       |  FROM documents
       |), ranked AS (
       |  SELECT pos, score,
       |    CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS i
       |  FROM scored
       |), nt AS (SELECT count(*) AS n FROM scored),
       |buckets AS (
       |  SELECT (i - 1) * 10 // nt.n AS decile, count(*) AS n_docs,
       |    CAST(sum(score) AS BIGINT) // count(*) AS conf_ppm,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |      // count(*) AS acc_ppm
       |  FROM ranked, nt GROUP BY 1
       |), g AS (
       |  SELECT decile, n_docs, conf_ppm, acc_ppm,
       |    abs(conf_ppm - acc_ppm) AS gap_ppm
       |  FROM buckets
       |), e AS (
       |  SELECT CAST(sum(n_docs * gap_ppm) AS BIGINT)
       |    // CAST(sum(n_docs) AS BIGINT) AS ece_ppm FROM g
       |)
       |SELECT g.decile, g.n_docs, g.conf_ppm, g.acc_ppm, g.gap_ppm, e.ece_ppm
       |FROM g, e ORDER BY g.decile""".stripMargin
  }

  // -------------------------------------------------------------- q447

  /** q447: customers ranked by spend DESC (tiebreak custkey) into
    * deciles; target = placed ≥1 URGENT order. Cumulative capture
    * through the triangular join on the 10-row decile frame;
    * lift_milli = cum_pos·N·1000 div (total_pos·cum_n).
    */
  def q447_cumulative_gains(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("cents"),
        max(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("pos"))
    val ranked = PrefixScan.prefixSumsInclusive(cust, 16,
      Seq((col("cents") * -1).as("neg"), col("o_custkey")), Seq((lit(1L), "i")))
    val n = cust.agg(count(lit(1)).as("n"), sum(col("pos")).as("tot_pos"))
    val dec = ranked.crossJoin(broadcast(n))
      .select(expr("(i - 1) * 10 div n").as("decile"), col("pos"), col("n"), col("tot_pos"))
      .groupBy(col("decile"), col("n"), col("tot_pos"))
      .agg(count(lit(1)).as("n_c"), sum(col("pos")).as("n_pos"))
    dec.as("a").join(broadcast(dec.as("b")), col("b.decile") <= col("a.decile"))
      .groupBy(col("a.decile").as("decile"), col("a.n").as("n"),
        col("a.tot_pos").as("tot_pos"))
      .agg(sum(col("b.n_c")).as("cum_n"), sum(col("b.n_pos")).as("cum_pos"))
      .select(col("decile"), col("cum_n"), col("cum_pos"),
        expr("cum_pos * 1000000 div tot_pos").as("gain_ppm"),
        expr("cum_pos * n * 1000 div (tot_pos * cum_n)").as("lift_milli"))
      .orderBy(col("decile"))
  }

  val q447Sql: String =
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
      |), nt AS (
      |  SELECT count(*) AS n, CAST(sum(pos) AS BIGINT) AS tot_pos FROM cust
      |), dec AS (
      |  SELECT (i - 1) * 10 // nt.n AS decile, count(*) AS n_c,
      |    CAST(sum(pos) AS BIGINT) AS n_pos
      |  FROM ranked, nt GROUP BY 1
      |)
      |SELECT a.decile, CAST(sum(b.n_c) AS BIGINT) AS cum_n,
      |  CAST(sum(b.n_pos) AS BIGINT) AS cum_pos,
      |  CAST(sum(b.n_pos) AS BIGINT) * 1000000 // nt.tot_pos AS gain_ppm,
      |  CAST(sum(b.n_pos) AS BIGINT) * nt.n * 1000
      |    // (nt.tot_pos * CAST(sum(b.n_c) AS BIGINT)) AS lift_milli
      |FROM dec a JOIN dec b ON b.decile <= a.decile CROSS JOIN nt
      |GROUP BY a.decile, nt.n, nt.tot_pos
      |ORDER BY a.decile""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q446_calibration_ece", q446_calibration_ece _, q446Sql),
    Query("q447_cumulative_gains", q447_cumulative_gains _, q447Sql)
  )
}
