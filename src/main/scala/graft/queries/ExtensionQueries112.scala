package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan

/** Round-14 batch 7: ordered-trend inference, shard planning, and the
  * winner's-curse audit.
  *
  *  - q423 Jonckheere–Terpstra — the ordered-alternative k-sample test
    * (does customer spend increase with activity bucket?): all three
  *    pairwise Mann–Whitney counts off ONE multi-column PrefixScan of
  *    the pooled distinct-value frame (never m×n pairing), with the
  *    exact-integer z² via the ×2 parity trick (N² − Σn² is always
  *    even). Completes q178 (2 groups) → q407 (unordered k) with the
  *    ordered k.
  *  - q424 training-shard planning — pack documents (doc_id order)
  *    into fixed-budget shards by cumulative token count: the
  *    WebDataset-style layout pass a corpus export runs. Shard
  *    boundaries are an exclusive-prefix `div`; per-shard fill ppm
  *    exposes stragglers. Complements q309 (intra-context sequence
  *    packing) at the file level.
  *  - q425 regression to the mean — first-half top/bottom-decile
  *    customers re-scored on second-half percentile: the shrinkage a
  *    naive "reward the winners" readout ignores (the pitfall CUPED
  *    q379 exists to fix). Exact ppm percentiles in both halves.
  */
object ExtensionQueries112 extends QueryGroup {

  // -------------------------------------------------------------- q423

  /** q423: JT over activity buckets (orders per customer: ≤4, 5–8,
    * ≥9) against spend. For g<h, 2·U_gh = 2·Σ_v c_h(v)·cumStrict_g(v)
    * + Σ_v c_h(v)·c_g(v) — all off one 3-column prefix pass.
    * z²_milli = 18000·D² div (N²(2N+3) − Σn_g²(2n_g+3)) with
    * D = Σ2U − (N²−Σn²)/2.
    */
  def q423_jonckheere(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100").as("v"))
      .select(col("v"),
        when(col("n_orders") <= 4, 0L)
          .when(col("n_orders") <= 8, 1L).otherwise(2L).as("g"))
    val vals = cust.groupBy(col("v"))
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("g") === 2, 1L).otherwise(0L)).as("c2"))
    val cum = PrefixScan.prefixSumsInclusive(vals, 16, Seq(col("v")),
      Seq((col("c0"), "m0"), (col("c1"), "m1"), (col("c2"), "m2")))
    val agg = cum.agg(
      sum(col("c0")).as("n0"), sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      // 2U for (0,1), (0,2), (1,2): 2·wins + ties
      sum(lit(2L) * col("c1") * (col("m0") - col("c0")) + col("c1") * col("c0")).as("u01"),
      sum(lit(2L) * col("c2") * (col("m0") - col("c0")) + col("c2") * col("c0")).as("u02"),
      sum(lit(2L) * col("c2") * (col("m1") - col("c1")) + col("c2") * col("c1")).as("u12"))
    agg.select(col("n0"), col("n1"), col("n2"),
        expr("(u01 + u02 + u12) div 2").as("jt"),
        (col("u01") + col("u02") + col("u12")).as("jt2"),
        (col("n0") + col("n1") + col("n2")).as("n"))
      .select(col("n0"), col("n1"), col("n2"), col("jt"),
        expr("jt2 - (n * n - (n0*n0 + n1*n1 + n2*n2)) div 2").as("d2"),
        col("n"))
      .select(col("n0"), col("n1"), col("n2"), col("jt"),
        expr("CAST(18000 * CAST(d2 AS DECIMAL(38,0)) * d2 div " +
          "(CAST(n AS DECIMAL(38,0)) * n * (2 * n + 3) " +
          "- (CAST(n0 AS DECIMAL(38,0)) * n0 * (2 * n0 + 3) " +
          "+ CAST(n1 AS DECIMAL(38,0)) * n1 * (2 * n1 + 3) " +
          "+ CAST(n2 AS DECIMAL(38,0)) * n2 * (2 * n2 + 3))) AS BIGINT)")
          .as("z2_milli"))
  }

  val q423Sql: String =
    """WITH cust AS (
      |  SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v,
      |    CASE WHEN count(*) <= 4 THEN 0 WHEN count(*) <= 8 THEN 1 ELSE 2 END AS g
      |  FROM orders GROUP BY o_custkey
      |), vals AS (
      |  SELECT v,
      |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM cust GROUP BY v
      |), cum AS (
      |  SELECT v, c0, c1, c2,
      |    sum(c0) OVER w AS m0, sum(c1) OVER w AS m1, sum(c2) OVER w AS m2
      |  FROM vals
      |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), agg AS (
      |  SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1,
      |    CAST(sum(c2) AS BIGINT) AS n2,
      |    CAST(sum(2 * c1 * (m0 - c0) + c1 * c0)
      |       + sum(2 * c2 * (m0 - c0) + c2 * c0)
      |       + sum(2 * c2 * (m1 - c1) + c2 * c1) AS BIGINT) AS jt2
      |  FROM cum
      |), d AS (
      |  SELECT n0, n1, n2, n0 + n1 + n2 AS n, jt2, jt2 // 2 AS jt,
      |    jt2 - ((n0 + n1 + n2) * (n0 + n1 + n2) - (n0*n0 + n1*n1 + n2*n2)) // 2 AS d2
      |  FROM agg
      |)
      |SELECT n0, n1, n2, jt,
      |  CAST(18000 * CAST(d2 AS HUGEINT) * d2 //
      |    (CAST(n AS HUGEINT) * n * (2 * n + 3)
      |     - (CAST(n0 AS HUGEINT) * n0 * (2 * n0 + 3)
      |      + CAST(n1 AS HUGEINT) * n1 * (2 * n1 + 3)
      |      + CAST(n2 AS HUGEINT) * n2 * (2 * n2 + 3))) AS BIGINT) AS z2_milli
      |FROM d""".stripMargin

  // -------------------------------------------------------------- q424

  /** q424: shard layout at a 2k-token budget, doc_id order. A doc
    * belongs to the shard its exclusive-prefix token count lands in
    * (greedy sequential fill; an oversized doc overfills its own
    * shard rather than splitting — documented). Scale shape: one
    * PrefixScan + one rollup; output rows grow with the corpus (one
    * per shard).
    */
  def q424_shard_plan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val cum = PrefixScan.prefixSumsInclusive(docs, 16, Seq(col("doc_id")),
      Seq((col("toks"), "ctoks")))
    cum.select(col("doc_id"), col("toks"),
        expr("(ctoks - toks) div 2000").as("shard_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens_total"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .withColumn("fill_ppm", expr("tokens_total * 1000000 div 2000"))
      .orderBy(col("shard_id"))
  }

  val q424Sql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, toks,
      |    CAST(sum(toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) - toks AS prior
      |  FROM d
      |)
      |SELECT prior // 2000 AS shard_id, count(*) AS n_docs,
      |  CAST(sum(toks) AS BIGINT) AS tokens_total,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      |  CAST(sum(toks) AS BIGINT) * 1000000 // 2000 AS fill_ppm
      |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin

  // -------------------------------------------------------------- q425

  /** q425: winner's-curse audit. Customers active in BOTH order-span
    * halves, percentile-ranked (exact ppm, value+custkey total order)
    * within each half; the first-half top and bottom deciles report
    * their mean second-half percentile — the distance from 950000 /
    * 50000 ppm IS the regression to the mean. Scale shape: two
    * PrefixScan rank passes over the joint frame + a 2-row rollup.
    */
  def q425_regression_to_mean(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("day"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100").as("dollars"))
    val span = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val halves = o.crossJoin(broadcast(span))
      .groupBy(col("o_custkey"))
      .agg(sum(when(col("day") <= expr("d0 + (d1 - d0) div 2"), col("dollars"))
          .otherwise(0L)).as("v1"),
        sum(when(col("day") > expr("d0 + (d1 - d0) div 2"), col("dollars"))
          .otherwise(0L)).as("v2"),
        max(when(col("day") <= expr("d0 + (d1 - d0) div 2"), 1L).otherwise(0L)).as("a1"),
        max(when(col("day") > expr("d0 + (d1 - d0) div 2"), 1L).otherwise(0L)).as("a2"))
      .filter(col("a1") === 1L && col("a2") === 1L)
      .select(col("o_custkey"), col("v1"), col("v2"))
    val r1 = PrefixScan.prefixSumsInclusive(halves, 16,
        Seq(col("v1"), col("o_custkey")), Seq((lit(1L), "i1")))
      .select(col("o_custkey"), col("v1"), col("v2"), col("i1"))
    val r2 = PrefixScan.prefixSumsInclusive(r1, 16,
        Seq(col("v2"), col("o_custkey")), Seq((lit(1L), "i2")))
    val n1row = r2.agg(count(lit(1)).as("n"))
    val ranked = r2.crossJoin(broadcast(n1row))
      .select(col("o_custkey"),
        expr("(i1 - 1) * 1000000 div (n - 1)").as("pr1"),
        expr("(i2 - 1) * 1000000 div (n - 1)").as("pr2"))
    ranked.select(col("pr1"), col("pr2"),
        when(col("pr1") >= 900000L, "top_decile")
          .when(col("pr1") < 100000L, "bottom_decile").otherwise("middle")
          .as("cohort"))
      .filter(col("cohort") =!= "middle")
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_customers"),
        expr("sum(pr1) div count(1)").as("mean_pr1_ppm"),
        expr("sum(pr2) div count(1)").as("mean_pr2_ppm"))
      .withColumn("shrink_ppm", expr("mean_pr1_ppm - mean_pr2_ppm"))
      .orderBy(col("cohort"))
  }

  val q425Sql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(round(o_totalprice * 100) AS BIGINT) // 100 AS dollars
      |  FROM orders
      |), sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM o),
      |halves AS (
      |  SELECT o_custkey,
      |    CAST(sum(CASE WHEN day <= sp.d0 + (sp.d1 - sp.d0) // 2 THEN dollars
      |      ELSE 0 END) AS BIGINT) AS v1,
      |    CAST(sum(CASE WHEN day > sp.d0 + (sp.d1 - sp.d0) // 2 THEN dollars
      |      ELSE 0 END) AS BIGINT) AS v2,
      |    max(CASE WHEN day <= sp.d0 + (sp.d1 - sp.d0) // 2 THEN 1 ELSE 0 END) AS a1,
      |    max(CASE WHEN day > sp.d0 + (sp.d1 - sp.d0) // 2 THEN 1 ELSE 0 END) AS a2
      |  FROM o, sp GROUP BY o_custkey
      |), both_h AS (
      |  SELECT o_custkey, v1, v2 FROM halves WHERE a1 = 1 AND a2 = 1
      |), ranked AS (
      |  SELECT o_custkey,
      |    (row_number() OVER (ORDER BY v1, o_custkey) - 1) * 1000000
      |      // (count(*) OVER () - 1) AS pr1,
      |    (row_number() OVER (ORDER BY v2, o_custkey) - 1) * 1000000
      |      // (count(*) OVER () - 1) AS pr2
      |  FROM both_h
      |), coh AS (
      |  SELECT pr1, pr2,
      |    CASE WHEN pr1 >= 900000 THEN 'top_decile'
      |         WHEN pr1 < 100000 THEN 'bottom_decile' ELSE 'middle' END AS cohort
      |  FROM ranked
      |)
      |SELECT cohort, count(*) AS n_customers,
      |  CAST(sum(pr1) AS BIGINT) // count(*) AS mean_pr1_ppm,
      |  CAST(sum(pr2) AS BIGINT) // count(*) AS mean_pr2_ppm,
      |  CAST(sum(pr1) AS BIGINT) // count(*) - CAST(sum(pr2) AS BIGINT) // count(*)
      |    AS shrink_ppm
      |FROM coh WHERE cohort <> 'middle'
      |GROUP BY cohort ORDER BY cohort""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q423_jonckheere", q423_jonckheere _, q423Sql),
    Query("q424_shard_plan", q424_shard_plan _, q424Sql),
    Query("q425_regression_to_mean", q425_regression_to_mean _, q425Sql)
  )
}
