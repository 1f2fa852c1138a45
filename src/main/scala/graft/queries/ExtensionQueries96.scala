package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Similarity

/** Round-13 batch 9: experimentation, ranking comparison, and survey
  * design — three estimator-grade ops, all integer-exact.
  *
  *  - q379 CUPED variance reduction (Deng et al. 2013) — the
  *    experimentation-platform staple: regress the post-period metric
  *    on the pre-period covariate; θ = cov/var(x) and the achievable
  *    variance reduction ρ². Sums in exact dollar units (documented
  *    coarsening; cents⁴-scale products overflow DECIMAL(38,0)).
  *  - q380 rank-biased overlap (Webber et al. 2010) between the exact
  *    cosine ranking and a truncated-8-dim approximate ranking — THE
  *    top-weighted ranking-similarity measure. The per-item identity
  *    RBO@10 = Σ_items suffixW[max(rank_A, rank_B)] turns the
  *    depth-sum into one join and a pinned 10-entry literal table
  *    (p = 0.9), exactly like q355's discounts: no per-row FP powers.
  *  - q381 Neyman allocation — the optimal stratified-sampling design
  *    n_h ∝ N_h·S_h (q305 draws a FIXED-rate stratified sample; this
  *    computes the rate each stratum SHOULD get for minimum-variance
  *    estimation of mean order value). S_h via floor(sqrt) of the
  *    exact integer variance numerator.
  */
object ExtensionQueries96 extends QueryGroup {

  // --------------------------------------------------------------- q379

  /** q379: CUPED over per-customer spend — x = first-half-of-span
    * spend (dollars), y = second-half spend; θ_micro = cov·1e6 div P2x
    * and ρ²_ppm = (cov div 1e6)²·1e6 div ((P2x div 1e6)·(P2y div 1e6))
    * — operands pre-scaled so every integral-divide quotient fits a
    * LONG (Spark's IntegralDivide result type) and every product fits
    * DECIMAL(38,0); the truncations are mirrored bit-for-bit. Scale shape: one conditional-sum rollup per customer,
    * one map-combined moment fold; the split day broadcasts.
    */
  def q379_cuped(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_custkey"),
      datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("day"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100").as("dollars"))
    val split = o.agg(expr("(min(day) + (max(day) - min(day)) div 2)").as("d_split"))
    val cust = o.crossJoin(broadcast(split))
      .groupBy(col("o_custkey"))
      .agg(sum(when(col("day") <= col("d_split"), col("dollars")).otherwise(0L)).as("x"),
        sum(when(col("day") > col("d_split"), col("dollars")).otherwise(0L)).as("y"))
    cust.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(col("n"),
        expr("CAST(sx div n AS BIGINT)").as("mean_x_dollars"),
        expr("CAST(sy div n AS BIGINT)").as("mean_y_dollars"),
        expr("CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))").as("cov_num"),
        expr("CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DECIMAL(38,0))").as("p2x"),
        expr("CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))").as("p2y"))
      .select(col("n"), col("mean_x_dollars"), col("mean_y_dollars"),
        expr("CAST(cov_num * 1000000 div p2x AS BIGINT)").as("theta_micro"),
        // every div quotient must fit a LONG (IntegralDivide's result
        // type): pre-scale cov/P2 by 1e-6 each, then the ppm ratio
        expr("CAST((CAST(cov_num div 1000000 AS DECIMAL(38,0)) * " +
          "(cov_num div 1000000) * 1000000) div " +
          "(CAST(p2x div 1000000 AS DECIMAL(38,0)) * (p2y div 1000000)) AS BIGINT)")
          .as("var_reduction_ppm"))
  }

  val q379Sql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(round(o_totalprice * 100) AS BIGINT) // 100 AS dollars
      |  FROM orders
      |), sp AS (SELECT min(day) + (max(day) - min(day)) // 2 AS d_split FROM o),
      |cust AS (
      |  SELECT o_custkey,
      |    CAST(sum(CASE WHEN day <= sp.d_split THEN dollars ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN day > sp.d_split THEN dollars ELSE 0 END) AS BIGINT) AS y
      |  FROM o, sp GROUP BY o_custkey
      |), m AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      |  FROM cust
      |), p AS (
      |  SELECT n, sx // n AS mx, sy // n AS my,
      |    n * sxy - sx * sy AS cov_num,
      |    n * sxx - sx * sx AS p2x, n * syy - sy * sy AS p2y
      |  FROM m
      |)
      |SELECT n, CAST(mx AS BIGINT) AS mean_x_dollars,
      |  CAST(my AS BIGINT) AS mean_y_dollars,
      |  CAST(cov_num * 1000000 // p2x AS BIGINT) AS theta_micro,
      |  CAST(((cov_num // 1000000) * (cov_num // 1000000) * 1000000)
      |    // ((p2x // 1000000) * (p2y // 1000000)) AS BIGINT)
      |    AS var_reduction_ppm
      |FROM p""".stripMargin

  // --------------------------------------------------------------- q380

  /** Suffix sums of round(1e6·(1−p)·p^(d−1)/d), p = 0.9, d = 1..10:
    * an item whose worse rank is m contributes suffixW(m) to RBO@10.
    */
  private val rboSuffix =
    Seq(235416L, 135416L, 90416L, 63416L, 45191L, 32069L, 22228L, 14636L, 8657L, 3874L)

  /** q380: RBO@10 between the exact cosine ranking and the truncated
    * 8-dim ranking, per probe — plus top-1 agreement and the raw
    * top-10 overlap. Identical rankings score 651319 ppm (the
    * truncated-at-10 maximum — RBO's tail mass past depth 10 is not
    * claimable; documented). Scale shape: two bounded top-k passes
    * (probes broadcast), one join on (probe, cand), a 10-entry literal
    * lookup, one rollup.
    */
  def q380_rbo(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val eTrunc = e.select(col("vec_id"), expr("slice(embedding, 1, 8)").as("embedding"))
    val arr = rboSuffix.mkString("array(", "L,", "L)")
    def ranks(emb: DataFrame, tag: String) =
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", col("vec_id") < 10, 10)
        .select(col("probe_id"), col("cand_id"), col("rank").as(s"rank_$tag"))
    ranks(e, "a").join(ranks(eTrunc, "b"), Seq("probe_id", "cand_id"))
      .select(col("probe_id"), col("cand_id"),
        greatest(col("rank_a"), col("rank_b")).as("worse"),
        when(col("rank_a") === 1 && col("rank_b") === 1, 1L).otherwise(0L).as("top1"))
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("overlap10"),
        sum(element_at(expr(arr), col("worse").cast("int"))).as("rbo_ppm"),
        sum(col("top1")).as("top1_agree"))
      .orderBy(col("probe_id"))
  }

  val q380Sql: String = {
    def fold(a: String, b: String, n: Int): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, $n + 1), dp_i -> CAST($a[dp_i] AS DOUBLE) * CAST($b[dp_i] AS DOUBLE))), " +
        s"(dp_x, dp_y) -> dp_x + dp_y)"
    def rankCte(n: Int, tag: String) =
      s"""r_$tag AS (
         |  SELECT probe_id, cand_id,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY ${fold("pv", "cv", n)} /
         |        (sqrt(${fold("pv", "pv", n)}) * sqrt(${fold("cv", "cv", n)})) DESC,
         |      cand_id) AS rank_$tag
         |  FROM (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings
         |        WHERE vec_id < 10) p
         |  CROSS JOIN (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings) c
         |  WHERE probe_id <> cand_id
         |  QUALIFY rank_$tag <= 10
         |)"""
    val lit = rboSuffix.mkString("[", ",", "]")
    s"""WITH ${rankCte(64, "a").stripMargin},
       |${rankCte(8, "b").stripMargin}
       |SELECT a.probe_id, count(*) AS overlap10,
       |  CAST(sum(($lit)[greatest(a.rank_a, b.rank_b)]) AS BIGINT) AS rbo_ppm,
       |  CAST(sum(CASE WHEN a.rank_a = 1 AND b.rank_b = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS top1_agree
       |FROM r_a a JOIN r_b b USING (probe_id, cand_id)
       |GROUP BY a.probe_id ORDER BY probe_id""".stripMargin
  }

  // --------------------------------------------------------------- q381

  /** q381: Neyman allocation of a 10,000-draw budget across order
    * priorities for estimating mean order value — n_h ∝ N_h·S_h with
    * S_h (dollar units) from the exact variance numerator
    * P2_h div (n_h(n_h−1)) under floor(sqrt) (radicand < 2⁵³ through
    * sf0.1 after the dollar coarsening). Scale shape: one power-sum
    * rollup; the Σ N_g·S_g total broadcasts.
    */
  def q381_neyman_allocation(s: SparkSession, dir: String): DataFrame = {
    val strata = Tables.orders(s, dir)
      .select(col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100").as("x"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_h"), sum(col("x")).as("s1"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("s2"))
      .select(col("o_orderpriority"), col("n_h"),
        expr("CAST(floor(sqrt(CAST(CAST(n_h * s2 - CAST(s1 AS DECIMAL(38,0)) * s1 " +
          "AS DECIMAL(38,0)) div (n_h * (n_h - 1)) AS DOUBLE))) AS BIGINT)")
          .as("s_dollars"))
    val tot = strata.agg(sum(col("n_h") * col("s_dollars")).as("total_ns"))
    strata.crossJoin(broadcast(tot))
      .select(col("o_orderpriority"), col("n_h"), col("s_dollars"),
        expr("n_h * s_dollars * 10000 div total_ns").as("alloc_of_10k"))
      .orderBy(col("o_orderpriority"))
  }

  val q381Sql: String =
    """WITH base AS (
      |  SELECT o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) // 100 AS x
      |  FROM orders
      |), strata AS (
      |  SELECT o_orderpriority, count(*) AS n_h,
      |    CAST(floor(sqrt(CAST((count(*) * sum(CAST(x AS HUGEINT) * x)
      |      - CAST(sum(x) AS HUGEINT) * sum(x))
      |      // (count(*) * (count(*) - 1)) AS DOUBLE))) AS BIGINT) AS s_dollars
      |  FROM base GROUP BY 1
      |), tot AS (SELECT CAST(sum(n_h * s_dollars) AS BIGINT) AS total_ns FROM strata)
      |SELECT o_orderpriority, n_h, s_dollars,
      |  CAST(n_h * s_dollars * 10000 // tot.total_ns AS BIGINT) AS alloc_of_10k
      |FROM strata, tot ORDER BY o_orderpriority""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q379_cuped", q379_cuped _, q379Sql),
    Query("q380_rbo", q380_rbo _, q380Sql),
    Query("q381_neyman_allocation", q381_neyman_allocation _, q381Sql)
  )
}
