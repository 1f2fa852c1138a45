package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-13 batch 10: closing the evaluation loop on the engine's own
  * operators — dedup quality, paired-classifier comparison, and test
  * planning.
  *
  *  - q382 pair-counted dedup quality of the q42 clustering against
  *    the corpus's PLANTED ground truth (the +100000/+200000 variant
  *    families ARE the true clusters: id % 100000 is the truth key) —
  *    pairwise precision/recall/F1 in exact ppm via the
  *    Σ c(c−1)/2 group identities, no pair materialization. The dedup
  *    tier finally gets a scored report card, not just spec booleans.
  *  - q383 McNemar's paired test — the right test for "is classifier A
  *    better than B ON THE SAME ROWS" (two rule classifiers over
  *    orders vs the fulfillment label); discordant counts b/c and the
  *    exact χ² = (b−c)²/(b+c) in milli. Complements q181 (unpaired
  *    two-sample χ²).
  *  - q384 sample-size planning (two-proportion, α=.05 two-sided,
  *    power 80%) per order priority — n = (z_α+z_β)²·2p̄(1−p̄)/δ² with
  *    pinned micro z literals and δ = 2pp, exact through
  *    DECIMAL(38,0); plus the feasibility verdict against the rows
  *    actually available. The planning complement to q375 (the
  *    interval you get) and q379 (the variance CUPED removes).
  */
object ExtensionQueries97 extends QueryGroup {

  // --------------------------------------------------------------- q382

  /** q382: TP/pred/true pair counts and precision/recall/F1 (ppm) of
    * the q42 connected-component dedup vs the planted variant families.
    * Scale shape: three c(c−1)/2 rollups over the ≤90-row memoized
    * cluster frame; nothing touches the corpus again.
    */
  def q382_dedup_pair_quality(s: SparkSession, dir: String): DataFrame = {
    val cl = ExtensionQueries2.q42ClustersStaged(s, dir)
      .select(col("id"), col("rep"), (col("id") % 100000L).as("truth"))
    def pairs(df: DataFrame, keys: Column*) =
      df.groupBy(keys: _*).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("p"))
    val tp = pairs(cl, col("rep"), col("truth"))
      .withColumnRenamed("p", "tp_pairs")
    val pred = pairs(cl, col("rep")).withColumnRenamed("p", "pred_pairs")
    val tru = pairs(cl, col("truth")).withColumnRenamed("p", "true_pairs")
    val n = cl.agg(count(lit(1)).as("n_docs"))
    n.crossJoin(broadcast(tp)).crossJoin(broadcast(pred)).crossJoin(broadcast(tru))
      .select(col("n_docs"), col("tp_pairs"), col("pred_pairs"), col("true_pairs"),
        expr("tp_pairs * 1000000 div pred_pairs").as("precision_ppm"),
        expr("tp_pairs * 1000000 div true_pairs").as("recall_ppm"),
        expr("2 * tp_pairs * 1000000 div (pred_pairs + true_pairs)").as("f1_ppm"))
  }

  val q382Sql: String =
    s"""${ExtensionQueries2.q42ClusterCtes},
       |c AS (SELECT id, rep, id % 100000 AS truth FROM lbl),
       |tp AS (SELECT coalesce(sum(p), 0) AS tp_pairs FROM (
       |  SELECT count(*) * (count(*) - 1) // 2 AS p FROM c GROUP BY rep, truth)),
       |pred AS (SELECT coalesce(sum(p), 0) AS pred_pairs FROM (
       |  SELECT count(*) * (count(*) - 1) // 2 AS p FROM c GROUP BY rep)),
       |tru AS (SELECT coalesce(sum(p), 0) AS true_pairs FROM (
       |  SELECT count(*) * (count(*) - 1) // 2 AS p FROM c GROUP BY truth)),
       |n AS (SELECT count(*) AS n_docs FROM c)
       |SELECT n.n_docs, CAST(tp.tp_pairs AS BIGINT) AS tp_pairs,
       |  CAST(pred.pred_pairs AS BIGINT) AS pred_pairs,
       |  CAST(tru.true_pairs AS BIGINT) AS true_pairs,
       |  CAST(tp.tp_pairs * 1000000 // pred.pred_pairs AS BIGINT) AS precision_ppm,
       |  CAST(tp.tp_pairs * 1000000 // tru.true_pairs AS BIGINT) AS recall_ppm,
       |  CAST(2 * tp.tp_pairs * 1000000 // (pred.pred_pairs + tru.true_pairs)
       |    AS BIGINT) AS f1_ppm
       |FROM n, tp, pred, tru""".stripMargin

  // --------------------------------------------------------------- q383

  /** q383: McNemar over two deterministic rules for predicting
    * fulfillment — A: total ≥ $150k; B: order day in the span's first
    * half. b = only-A-right, c = only-B-right;
    * χ²_milli = (b−c)²·1000 div (b+c). Scale shape: one scan, one
    * 1-row fold; the split-day scalar broadcasts.
    */
  def q383_mcnemar(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      (col("o_orderstatus") === "F").as("y"),
      (expr("CAST(round(o_totalprice * 100) AS BIGINT)") >= 15000000L).as("pa"),
      datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("day"))
    val split = o.agg(expr("(min(day) + (max(day) - min(day)) div 2)").as("d_split"))
    o.crossJoin(broadcast(split))
      .select(col("y"), col("pa"), (col("day") <= col("d_split")).as("pb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pa") === col("y") && col("pb") =!= col("y"), 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("pa") =!= col("y") && col("pb") === col("y"), 1L)
          .otherwise(0L)).as("c"),
        sum(when(col("pa") === col("y"), 1L).otherwise(0L)).as("a_right"),
        sum(when(col("pb") === col("y"), 1L).otherwise(0L)).as("b_right"))
      .select(col("n"), col("a_right"), col("b_right"), col("b"), col("c"),
        expr("(b - c) * (b - c) * 1000 div (b + c)").as("chi2_milli"))
  }

  val q383Sql: String =
    """WITH o AS (
      |  SELECT (o_orderstatus = 'F') AS y,
      |    (CAST(round(o_totalprice * 100) AS BIGINT) >= 15000000) AS pa,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day
      |  FROM orders
      |), sp AS (SELECT min(day) + (max(day) - min(day)) // 2 AS d_split FROM o),
      |j AS (SELECT y, pa, (day <= sp.d_split) AS pb FROM o, sp)
      |SELECT count(*) AS n,
      |  CAST(sum(CASE WHEN pa = y THEN 1 ELSE 0 END) AS BIGINT) AS a_right,
      |  CAST(sum(CASE WHEN pb = y THEN 1 ELSE 0 END) AS BIGINT) AS b_right,
      |  CAST(sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |  CAST(sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |  CAST((sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
      |      - sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END))
      |    * (sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
      |      - sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)) * 1000
      |    // (sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
      |      + sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)) AS BIGINT)
      |    AS chi2_milli
      |FROM j""".stripMargin

  // --------------------------------------------------------------- q384

  /** q384: per-priority required n per arm to detect a 2-pp lift in
    * the fulfillment rate at α=.05 / power 80%, vs the rows available.
    * (z_α + z_β)·1e6 = 2801600; δ_ppm = 20000. Scale shape: one
    * 5-group rollup; pure per-group literal math above it.
    */
  def q384_power_analysis(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_available"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("k"))
      .withColumn("p_ppm", expr("k * 1000000 div n_available"))
      .withColumn("required_n_per_arm",
        expr("CAST(CAST(2801600 AS DECIMAL(38,0)) * 2801600 * 2 * " +
          "(p_ppm * (1000000 - p_ppm)) div " +
          "(CAST(1000000000000 AS DECIMAL(38,0)) * 20000 * 20000) AS BIGINT) + 1"))
      .select(col("o_orderpriority"), col("n_available"), col("p_ppm"),
        col("required_n_per_arm"),
        when(col("n_available") >= lit(2L) * col("required_n_per_arm"), 1L)
          .otherwise(0L).as("feasible_two_arms"))
      .orderBy(col("o_orderpriority"))

  val q384Sql: String =
    """WITH agg AS (
      |  SELECT o_orderpriority, count(*) AS n_available,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM orders GROUP BY 1
      |), p AS (
      |  SELECT o_orderpriority, n_available,
      |    CAST(k * 1000000 // n_available AS BIGINT) AS p_ppm
      |  FROM agg
      |)
      |SELECT o_orderpriority, n_available, p_ppm,
      |  CAST(CAST(2801600 AS HUGEINT) * 2801600 * 2 * (p_ppm * (1000000 - p_ppm))
      |    // (CAST(1000000000000 AS HUGEINT) * 20000 * 20000) AS BIGINT) + 1
      |    AS required_n_per_arm,
      |  CAST(CASE WHEN n_available >= 2 * (CAST(CAST(2801600 AS HUGEINT) * 2801600 * 2
      |      * (p_ppm * (1000000 - p_ppm))
      |      // (CAST(1000000000000 AS HUGEINT) * 20000 * 20000) AS BIGINT) + 1)
      |    THEN 1 ELSE 0 END AS BIGINT) AS feasible_two_arms
      |FROM p ORDER BY o_orderpriority""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q382_dedup_pair_quality", q382_dedup_pair_quality _, q382Sql),
    Query("q383_mcnemar", q383_mcnemar _, q383Sql),
    Query("q384_power_analysis", q384_power_analysis _, q384Sql)
  )
}
