package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.DenseIds

/** Round-9 batch 35: soft dedup policy, rank dependence, and
  * distribution shape — exact-integer, DuckDB-oracle-gated.
  *
  *  - q234: cluster capping — the keep-at-most-K dedup POLICY between
  *    q142's keep-1 and keep-all.
  *  - q235: 2D rank dependence grid — the copula-style heatmap that
  *    sees dependence correlation coefficients miss.
  *  - q236: index of dispersion — Poisson-ness of the per-order line
  *    count.
  */
object ExtensionQueries47 extends QueryGroup {

  // --------------------------------------------------------------- q234

  /** q234: near-dup cluster capping ("soft dedup") — keep at most K = 2
    * members per q42 cluster (largest token counts win, ties to smaller
    * doc id) instead of q142's keep-1: LLM corpora often DOWN-WEIGHT
    * duplicates rather than drop them, and the cap is the coarse form.
    * Report per cluster: size, kept, dropped, and the kept ids as a
    * sorted CSV string (array columns are a hard driver-compare FAIL —
    * serialized per the repo convention).
    *
    * Scale shape: cluster labels from q42's banded LSH (never
    * all-pairs); keep-K is a rep-partitioned row_number
    * (WindowGroupLimit); the report is a rep-keyed fold.
    */
  def q234_cluster_capping(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.TextAnalysis
    val toks = ExtensionQueries2.q42Corpus(s, dir)
      .select(col("doc_id").as("tid"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val labeled = ExtensionQueries2.q42ClustersStaged(s, dir)
      .join(toks, col("id") === col("tid"))
    val w = Window.partitionBy(col("rep"))
      .orderBy(col("n_tokens").desc, col("id"))
    labeled.withColumn("rk", row_number().over(w))
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("size"),
        sum(when(col("rk") <= 2, 1L).otherwise(0L)).as("kept"),
        sum(when(col("rk") > 2, 1L).otherwise(0L)).as("dropped"),
        expr("array_join(transform(sort_array(collect_list(" +
          "CASE WHEN rk <= 2 THEN id END)), kx -> CAST(kx AS STRING)), ',')")
          .as("kept_ids"))
      .orderBy(col("rep"))
  }

  val q234Sql: String =
    s"""${ExtensionQueries2.q42ClusterCtes},
       |tk AS (
       |  SELECT doc_id AS tid,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM allv
       |), rk AS (
       |  SELECT rep, id,
       |    row_number() OVER (PARTITION BY rep
       |      ORDER BY n_tokens DESC, id) AS rk
       |  FROM lbl JOIN tk ON id = tid
       |)
       |SELECT rep, count(*) AS size,
       |  CAST(sum(CASE WHEN rk <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       |  CAST(sum(CASE WHEN rk > 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS dropped,
       |  array_to_string(list_sort(list(id) FILTER (WHERE rk <= 2)), ',')
       |    AS kept_ids
       |FROM rk
       |GROUP BY rep
       |ORDER BY rep""".stripMargin

  // --------------------------------------------------------------- q235

  /** q235: 2D rank dependence grid — customer balances and their order
    * totals quartile-bucketed BY RANK (two q91 two-phase dense ranks),
    * then each of the 16 grid cells' occupancy against the n/16
    * independence expectation in signed ppm:
    * `dev = (16·cnt − n)·10⁶ div n`. The copula-style heatmap: rank
    * buckets make it robust to any monotone transform, and the cell
    * pattern shows WHERE dependence lives (corners = tail dependence)
    * — a correlation coefficient cannot.
    *
    * Scale shape: per-customer aggregates once; both ranks two-phase;
    * the grid is a 16-row fold with the 1-row total broadcast.
    */
  def q235_rank_dependence_grid(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("spend"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"),
          round(col("c_acctbal") * 100).cast("long").as("bal")),
        "o_custkey")
      .transform(graft.core.Ckpt.eager)
    val rx = DenseIds.withDenseId(cust, "rb", 16, col("bal"), col("o_custkey"))
    val rxy = DenseIds.withDenseId(rx, "rs", 16, col("spend"), col("o_custkey"))
    val n = rxy.agg(count(lit(1)).as("n"))
    rxy.crossJoin(broadcast(n))
      .select(expr("rb * 4 div n").as("bal_q"),
        expr("rs * 4 div n").as("spend_q"), col("n"))
      .groupBy(col("bal_q"), col("spend_q"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("bal_q"), col("spend_q"), col("cnt"),
        expr("(16 * cnt - n) * 1000000 div n").as("dev_ppm"))
      .orderBy(col("bal_q"), col("spend_q"))
  }

  val q235Sql: String =
    """WITH cust AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS spend
      |  FROM orders GROUP BY o_custkey
      |), j AS (
      |  SELECT cust.o_custkey, spend,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal
      |  FROM cust JOIN customer ON o_custkey = c_custkey
      |), r AS (
      |  SELECT
      |    (row_number() OVER (ORDER BY bal, o_custkey) - 1) AS rb,
      |    (row_number() OVER (ORDER BY spend, o_custkey) - 1) AS rs
      |  FROM j
      |), t AS (SELECT count(*) AS n FROM j)
      |SELECT rb * 4 // n AS bal_q, rs * 4 // n AS spend_q,
      |  count(*) AS cnt,
      |  CAST((16 * count(*) - n) * 1000000 // n AS BIGINT) AS dev_ppm
      |FROM r, t
      |GROUP BY bal_q, spend_q, n
      |ORDER BY bal_q, spend_q""".stripMargin

  // --------------------------------------------------------------- q236

  /** q236: index of dispersion for per-order line counts — the
    * variance-to-mean ratio in exact ppm,
    * `D = n·(n·Σx² − (Σx)²) div ((n−1)·Σx · n) · ...` spelled as
    * `dispersion_ppm = (n·Σx² − (Σx)²) · 10⁶ div ((n − 1) · Σx)`
    * (sample variance divided by the sample mean, cross-multiplied so
    * only integers form). D ≈ 10⁶ means Poisson-like arrivals; D ≫ 10⁶
    * flags clumping — the distribution-shape verdict behind capacity
    * models. Emitted with n, Σx, Σx².
    *
    * Scale shape: one lineitem pass → order-keyed counts; one 1-row
    * moment fold. 64-bit bounds: Σx² ≤ 49·|orders| — safe far past
    * 10¹² orders.
    */
  def q236_dispersion_index(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x"))
    counts.agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"))
      .select(col("n"), col("s1"), col("s2"),
        expr("(n * s2 - s1 * s1) * 1000000 div ((n - 1) * s1)")
          .as("dispersion_ppm"))
  }

  val q236Sql: String =
    """WITH c AS (
      |  SELECT l_orderkey, count(*) AS x FROM lineitem GROUP BY l_orderkey
      |)
      |SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s1,
      |  CAST(sum(x * x) AS BIGINT) AS s2,
      |  CAST((count(*) * sum(x * x) - sum(x) * sum(x)) * 1000000
      |    // ((count(*) - 1) * sum(x)) AS BIGINT) AS dispersion_ppm
      |FROM c""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q234_cluster_capping", q234_cluster_capping _, q234Sql),
    Query("q235_rank_dependence_grid", q235_rank_dependence_grid _, q235Sql),
    Query("q236_dispersion_index", q236_dispersion_index _, q236Sql)
  )
}
