package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.PrefixScan
import QueryBlocks.spend

/** L-moments and the dedup-closure audit.
  *
  *  - q429 L-moments (Hosking 1990) of customer spend — ℓ₁, ℓ₂ and
  *    the L-skewness/L-kurtosis ratios τ₃, τ₄: the order-statistics
  *    moment family that exists for ANY distribution with a mean and
  *    is nearly outlier-immune (classical kurtosis q378 explodes on
  *    heavy tails). Fully exact: the probability-weighted sums
  *    S_r = Σ (i−1)(i−2)…(i−r)·x₍ᵢ₎ are integers off PrefixScan
  *    ranks (tie-order invariant — equal values contribute the same
  *    falling-factorial mass under any tie order), and every ratio is
  *    one integer division.
  *  - q430 dedup transitivity audit — near-dup PAIR sets from a
  *    threshold (q358's edit-distance rule) are not automatically
  *    transitive: a~b and b~c without a~c means cluster-by-
  *    connected-components (q42/q128) MERGES documents no pairwise
  *    check ever matched. This measures that gap: wedge count, closed
  *    wedge count, closure ppm — the number that decides whether
  *    "cluster then keep-first" is safe at a given threshold.
  */
object ExtensionQueries114 extends QueryGroup {

  // -------------------------------------------------------------- q429

  /** q429: ℓ₁ (milli-dollars), ℓ₂ (milli), τ₃ and τ₄ (ppm) of
    * per-customer spend. With Sr = Σ Π_{j≤r}(i−j)·x₍ᵢ₎:
    *   ℓ₂ = (2S₁ − (n−1)S₀) / (n(n−1)),
    *   τ₃ = (6S₂ − 6(n−2)S₁ + (n−1)(n−2)S₀) / ((n−2)(2S₁ − (n−1)S₀)),
    *   τ₄ = (20S₃ − 30(n−3)S₂ + 12(n−2)(n−3)S₁ − (n−1)(n−2)(n−3)S₀)
    *        / ((n−2)(n−3)(2S₁ − (n−1)S₀)).
    * Scale shape: one PrefixScan rank pass + one fold; S₃ ≈ n⁴·x̄/4
    * stays inside DECIMAL(38,0) through sf1 (~10²⁶).
    */
  def q429_l_moments(s: SparkSession, dir: String): DataFrame = {
    val sp = spend(s, dir)
    val ranked = PrefixScan.prefixSumsInclusive(sp, 16,
      Seq(col("v"), col("o_custkey")), Seq((lit(1L), "i")))
    val sums = ranked.agg(count(lit(1)).as("n"),
      sum(col("v")).as("s0"),
      sum(expr("CAST(i - 1 AS DECIMAL(38,0)) * v")).as("s1"),
      sum(expr("CAST(i - 1 AS DECIMAL(38,0)) * (i - 2) * v")).as("s2"),
      sum(expr("CAST(i - 1 AS DECIMAL(38,0)) * (i - 2) * (i - 3) * v")).as("s3"))
    sums.select(col("n").as("n_customers"),
      expr("s0 * 1000 div n").as("l1_milli"),
      expr("CAST((2 * s1 - CAST(n - 1 AS DECIMAL(38,0)) * s0) * 1000 div " +
        "(CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)").as("l2_milli"),
      expr("CAST((6 * s2 - 6 * (n - 2) * s1 + CAST(n - 1 AS DECIMAL(38,0)) * (n - 2) * s0) " +
        "* 1000000 div (CAST(n - 2 AS DECIMAL(38,0)) * " +
        "(2 * s1 - CAST(n - 1 AS DECIMAL(38,0)) * s0)) AS BIGINT)").as("tau3_ppm"),
      expr("CAST((20 * s3 - 30 * (n - 3) * s2 + 12 * CAST(n - 2 AS DECIMAL(38,0)) * (n - 3) * s1 " +
        "- CAST(n - 1 AS DECIMAL(38,0)) * (n - 2) * (n - 3) * s0) " +
        "* 1000000 div (CAST(n - 2 AS DECIMAL(38,0)) * (n - 3) * " +
        "(2 * s1 - CAST(n - 1 AS DECIMAL(38,0)) * s0)) AS BIGINT)").as("tau4_ppm"))
  }

  val q429Sql: String =
    """WITH sp AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders GROUP BY o_custkey
      |), r AS (
      |  SELECT v, row_number() OVER (ORDER BY v, o_custkey) AS i FROM sp
      |), sums AS (
      |  SELECT count(*) AS n, CAST(sum(v) AS HUGEINT) AS s0,
      |    CAST(sum(CAST(i - 1 AS HUGEINT) * v) AS HUGEINT) AS s1,
      |    CAST(sum(CAST(i - 1 AS HUGEINT) * (i - 2) * v) AS HUGEINT) AS s2,
      |    CAST(sum(CAST(i - 1 AS HUGEINT) * (i - 2) * (i - 3) * v) AS HUGEINT) AS s3
      |  FROM r
      |)
      |SELECT n AS n_customers,
      |  CAST(s0 * 1000 // n AS BIGINT) AS l1_milli,
      |  CAST((2 * s1 - CAST(n - 1 AS HUGEINT) * s0) * 1000 //
      |    (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS l2_milli,
      |  CAST((6 * s2 - 6 * (n - 2) * s1 + CAST(n - 1 AS HUGEINT) * (n - 2) * s0)
      |    * 1000000 // (CAST(n - 2 AS HUGEINT) *
      |    (2 * s1 - CAST(n - 1 AS HUGEINT) * s0)) AS BIGINT) AS tau3_ppm,
      |  CAST((20 * s3 - 30 * (n - 3) * s2 + 12 * CAST(n - 2 AS HUGEINT) * (n - 3) * s1
      |    - CAST(n - 1 AS HUGEINT) * (n - 2) * (n - 3) * s0)
      |    * 1000000 // (CAST(n - 2 AS HUGEINT) * (n - 3) *
      |    (2 * s1 - CAST(n - 1 AS HUGEINT) * s0)) AS BIGINT) AS tau4_ppm
      |FROM sums""".stripMargin

  // -------------------------------------------------------------- q430

  /** q430: closure audit of the near-dup pair graph. A wedge is an
    * unordered neighbor pair (u, w) of a shared center; it is CLOSED
    * when (u, w) is itself a pair. closure_ppm = closed·10⁶ div
    * wedges (10⁶ when there are no wedges — an empty obligation is
    * met).
    *
    * Feed: the pair set is q358b's BANDED path — the production
    * dedup — not q358's exact Σc² block join (re-running the
    * certificate-tier join it audits put this query's kc at 0.56). q358c proves banded == exact pairs (recall_ppm =
    * precision_ppm = 10⁶ at both SFs), and
    * `ExtensionQueries114Spec` asserts the two pair SETS are equal
    * outright, so the audited graph is unchanged — only its
    * derivation now scales. Scale shape: banded candidates (ONE
    * equi-join on the six-part compound key) + adjacency joins on
    * the tiny pair set, never on docs.
    */
  def q430_dedup_transitivity(s: SparkSession, dir: String): DataFrame = {
    val e = ExtensionQueries106.bandedCandidates(s, dir)
      .filter(levenshtein(col("pa"), col("pb")) <= 20)
      .select(col("doc_a"), col("doc_b"))
    val adj = e.select(col("doc_a").as("ctr"), col("doc_b").as("nb"))
      .unionAll(e.select(col("doc_b").as("ctr"), col("doc_a").as("nb")))
    val wedges = adj.as("x").join(adj.as("y"),
        col("x.ctr") === col("y.ctr") && col("x.nb") < col("y.nb"))
      .select(col("x.nb").as("u"), col("y.nb").as("w"))
    val closed = wedges.join(
        e.select(col("doc_a").as("u"), col("doc_b").as("w")), Seq("u", "w"),
        "left_semi")
      .agg(count(lit(1)).as("n_closed"))
    val stats = e.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
      .crossJoin(broadcast(closed))
    stats.select(col("n_pairs"), col("n_wedges"), col("n_closed"),
      expr("CASE WHEN n_wedges = 0 THEN 1000000 " +
        "ELSE n_closed * 1000000 div n_wedges END").as("closure_ppm"))
  }

  val q430Sql: String =
    s"""${ExtensionQueries106.candSql},
       |pairs AS (
       |  SELECT doc_a, doc_b FROM cand WHERE levenshtein(pa, pb) <= 20
       |), adj AS (
       |  SELECT doc_a AS ctr, doc_b AS nb FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |), wedges AS (
       |  SELECT x.nb AS u, y.nb AS w FROM adj x JOIN adj y
       |    ON x.ctr = y.ctr AND x.nb < y.nb
       |), agg AS (
       |  SELECT (SELECT count(*) FROM pairs) AS n_pairs,
       |    (SELECT count(*) FROM wedges) AS n_wedges,
       |    (SELECT count(*) FROM wedges JOIN pairs
       |       ON pairs.doc_a = wedges.u AND pairs.doc_b = wedges.w) AS n_closed
       |)
       |SELECT n_pairs, n_wedges, n_closed,
       |  CASE WHEN n_wedges = 0 THEN 1000000
       |    ELSE n_closed * 1000000 // n_wedges END AS closure_ppm
       |FROM agg""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q429_l_moments", q429_l_moments _, q429Sql),
    Query("q430_dedup_transitivity", q430_dedup_transitivity _, q430Sql)
  )
}
