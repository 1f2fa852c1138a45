package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan

/** Round-13 batch 7: source curation, robust trend, and exact
  * proportion intervals.
  *
  *  - q373 source marginal coverage — the greedy "what NEW vocabulary
  *    does each source add" attribution (first-seen = lexicographically
  *    first source containing the token), the curation complement to
  *    q146 (source diversity) and q246 (single-source risk): a source
  *    whose marginal coverage is ~0 is a dedup candidate at the SOURCE
  *    granularity.
  *  - q374 Theil–Sen estimator — the median of all pairwise daily
  *    slopes, the robust-regression complement to q152's OLS trend
  *    (one wild day moves OLS, not the pair median). Slopes in exact
  *    integer micro-units; the median picks via distributed prefix
  *    sums ([[PrefixScan]]), never a global window.
  *  - q375 Wilson score interval for per-priority fulfillment rates —
  *    the proportion CI that behaves at small n and extreme p̂ (unlike
  *    the normal approximation), exact in ppm via floor(sqrt) (the
  *    one safe double→int path; the radicand stays < 2⁵³ so the sqrt
  *    is correctly rounded).
  */
object ExtensionQueries94 extends QueryGroup {

  // --------------------------------------------------------------- q373

  /** q373: per source — distinct tokens present, tokens FIRST seen
    * there (lexicographic source order), and the marginal coverage in
    * ppm of the global vocabulary. Scale shape: distinct (source, tok)
    * is one shuffle; first-seen is a min-combine on the token key; the
    * 1-row vocabulary total broadcasts.
    */
  def q373_source_coverage(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val present = st.groupBy(col("source")).agg(count(lit(1)).as("n_present"))
    val firstSeen = st.groupBy(col("tok")).agg(min(col("source")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_new"))
    val vocab = st.select(col("tok")).distinct().agg(count(lit(1)).as("v"))
    present.join(firstSeen, Seq("source"), "left")
      .select(col("source"), col("n_present"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .crossJoin(broadcast(vocab))
      .withColumn("marginal_ppm", expr("n_new * 1000000 div v"))
      .select(col("source"), col("n_present"), col("n_new"), col("marginal_ppm"))
      .orderBy(col("source"))
  }

  val q373Sql: String =
    """WITH st AS (
      |  SELECT DISTINCT source, w AS tok
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      |), present AS (
      |  SELECT source, count(*) AS n_present FROM st GROUP BY 1
      |), firstseen AS (
      |  SELECT source, count(*) AS n_new FROM (
      |    SELECT tok, min(source) AS source FROM st GROUP BY 1
      |  ) GROUP BY 1
      |), vocab AS (SELECT count(DISTINCT tok) AS v FROM st)
      |SELECT p.source, p.n_present, coalesce(f.n_new, 0) AS n_new,
      |  CAST(coalesce(f.n_new, 0) * 1000000 // vocab.v AS BIGINT) AS marginal_ppm
      |FROM present p LEFT JOIN firstseen f USING (source), vocab
      |ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q374

  /** q374: Theil–Sen slope of daily revenue — lower median of the
    * C(n_days, 2) pairwise slopes (µ-cents/day). Scale shape: the
    * daily rollup is map-combined; the pair frame is calendar-bounded
    * (days², not rows²) with the small side broadcast; the median
    * rides [[PrefixScan]] prefix sums over the grouped slope values.
    *
    * The daily rollup feeds three consumers (both pair-join sides and
    * the n_days scalar) and the slope stream two (the grouped counts and
    * the n_pairs scalar) — both ride [[CacheScope.scopedN]] so the
    * orders scan and the C(n_days,2) pair fan-out each run ONCE per
    * consuming action instead of once per consumer (round-18: the
    * un-scoped plan re-derived the orders aggregate 3× and the pair join
    * 2×). N=2 because each frame flows through two completed actions:
    * [[PrefixScan]]'s internal boundary checkpoint and the final sink.
    */
  def q374_theil_sen(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.core.CacheScope.scopedN(Tables.orders(s, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev_c")), 2)
    val slopes = graft.core.CacheScope.scopedN(daily.as("a")
      .join(broadcast(daily.as("b")), col("a.day") < col("b.day"))
      .select(expr("(b.rev_c - a.rev_c) * 1000000 div (b.day - a.day)")
        .as("slope_micro")), 2)
    val counts = slopes.groupBy(col("slope_micro")).agg(count(lit(1)).as("c"))
    val cum = PrefixScan.prefixSumsInclusive(counts, 16,
      Seq(col("slope_micro")), Seq((col("c"), "cc")))
    val totals = slopes.agg(count(lit(1)).as("n_pairs"))
    val nDays = daily.agg(count(lit(1)).as("n_days"))
    cum.crossJoin(broadcast(totals))
      .agg(min(col("n_pairs")).as("n_pairs"),
        min(when(col("cc") >= expr("(n_pairs + 1) div 2"), col("slope_micro")))
          .as("theil_sen_slope_micro"))
      .crossJoin(broadcast(nDays))
      .select(col("n_days"), col("n_pairs"), col("theil_sen_slope_micro"))
  }

  val q374Sql: String =
    """WITH daily AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM orders GROUP BY 1
      |), slopes AS (
      |  SELECT (b.rev_c - a.rev_c) * 1000000 // (b.day - a.day) AS slope_micro
      |  FROM daily a JOIN daily b ON a.day < b.day
      |), t AS (SELECT count(*) AS n_pairs FROM slopes)
      |SELECT (SELECT count(*) FROM daily) AS n_days, t.n_pairs,
      |  (SELECT slope_micro FROM slopes ORDER BY slope_micro
      |   LIMIT 1 OFFSET (SELECT (n_pairs + 1) // 2 - 1 FROM t)) AS theil_sen_slope_micro
      |FROM t""".stripMargin

  // --------------------------------------------------------------- q375

  /** q375: per-priority fulfillment proportion with the 95% Wilson
    * score interval, all in exact ppm. z = 1.96 enters as the pinned
    * micro literals z²·1e6 = 3841600 and z·1e6 = 1960000; the product
    * k(n−k)·1e12 runs in DECIMAL(38,0)/HUGEINT (it passes 2⁶³ already
    * at n ≈ 3e4) and the radicand quotient ≤ n/4·1e12 + 9.604e11 stays
    * < 2⁵³ for per-group n ≲ 3.6e4 (holds through sf0.1's 30k
    * rows/group), so floor(sqrt) is correctly rounded and cross-engine
    * exact. Documented bound: beyond that n, drop the µ scale to 1e9 —
    * the q181/q280 convention.
    * Scale shape: one 5-group map-combined shuffle; everything after
    * is per-group scalar math.
    */
  def q375_wilson_ci(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("k"))
      .withColumn("phat_ppm", expr("k * 1000000 div n"))
      .withColumn("center_ppm",
        expr("(k * 1000000 + 3841600 div 2) * 1000000 div (n * 1000000 + 3841600)"))
      .withColumn("half_ppm",
        expr("1960000 * CAST(floor(sqrt(CAST(CAST(k AS DECIMAL(38,0)) * (n - k) * 1000000000000 div n " +
          "+ 960400000000 AS DOUBLE))) AS BIGINT) " +
          "div (n * 1000000 + 3841600)"))
      .select(col("o_orderpriority"), col("n"), col("k"), col("phat_ppm"),
        col("center_ppm"), (col("center_ppm") - col("half_ppm")).as("lo_ppm"),
        (col("center_ppm") + col("half_ppm")).as("hi_ppm"))
      .orderBy(col("o_orderpriority"))

  val q375Sql: String =
    """WITH agg AS (
      |  SELECT o_orderpriority, count(*) AS n,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM orders GROUP BY 1
      |), w AS (
      |  SELECT o_orderpriority, n, k,
      |    CAST(k * 1000000 // n AS BIGINT) AS phat_ppm,
      |    CAST((k * 1000000 + 3841600 // 2) * 1000000
      |      // (n * 1000000 + 3841600) AS BIGINT) AS center_ppm,
      |    CAST(1960000 * CAST(floor(sqrt(CAST(CAST(k AS HUGEINT) * (n - k) * 1000000000000 // n
      |        + 960400000000 AS DOUBLE))) AS BIGINT)
      |      // (n * 1000000 + 3841600) AS BIGINT) AS half_ppm
      |  FROM agg
      |)
      |SELECT o_orderpriority, n, k, phat_ppm, center_ppm,
      |  center_ppm - half_ppm AS lo_ppm, center_ppm + half_ppm AS hi_ppm
      |FROM w ORDER BY o_orderpriority""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q373_source_coverage", q373_source_coverage _, q373Sql),
    Query("q374_theil_sen", q374_theil_sen _, q374Sql),
    Query("q375_wilson_ci", q375_wilson_ci _, q375Sql)
  )
}
