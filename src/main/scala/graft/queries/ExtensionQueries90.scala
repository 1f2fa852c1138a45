package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.CoPurchase

/** Round-13 batch 3: graph/partition quality, multiset similarity, and
  * keyed stream attribution.
  *
  *  - q361 modularity of the brand partition over the co-purchase
  *    graph — THE standard community-quality score (Newman 2004,
  *    `Q = Σ_c [L_c/m − (d_c/2m)²]`), exact per-community in ppm via
  *    integer arithmetic widened to DECIMAL(38,0) (the q354 overflow
  *    convention). Complements q120 (label propagation FINDS
  *    communities) with the score that JUDGES a given partition.
  *  - q362 weighted (multiset) Jaccard over token count vectors —
  *    q26's set Jaccard ignores repetition; the weighted form
  *    Σmin/Σmax is the dedup-grade similarity for word-soup docs.
  *    Σmax folds to ta + tb − Σmin, so one inner join on tokens plus
  *    the per-doc totals suffices — no full outer join.
  *  - q363 lag cross-correlation between the daily click and
  *    purchase series — the exact-integer lead/lag analysis that
  *    complements q187 (CUSUM changepoints) and q278 (forecast
  *    backtest) with the "which series moves first" question.
  */
object ExtensionQueries90 extends QueryGroup {

  // --------------------------------------------------------------- q361

  /** q361: per brand — internal co-purchase edges L_c, degree sum d_c,
    * and the modularity contribution (4m·L_c − d_c²)·1e6 div 4m² (ppm;
    * the per-community truncation is documented — Σ contrib ≈ Q·1e6).
    * Scale shape: the edge build is q106's one distinct + one
    * self-join shuffle; brand lookup broadcasts the part dim twice;
    * the 1-row m total broadcasts into the 25-row brand frame.
    */
  def q361_modularity(s: SparkSession, dir: String): DataFrame = {
    val edges = CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 2)
      .select(col("part_a"), col("part_b"))
    val brand = broadcast(Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand")))
    val e2 = edges
      .join(brand.select(col("p_partkey").as("part_a"), col("p_brand").as("brand_a")), "part_a")
      .join(brand.select(col("p_partkey").as("part_b"), col("p_brand").as("brand_b")), "part_b")
    val deg = e2.select(col("brand_a").as("brand"))
      .unionAll(e2.select(col("brand_b").as("brand")))
      .groupBy(col("brand")).agg(count(lit(1)).as("d_c"))
    val intra = e2.filter(col("brand_a") === col("brand_b"))
      .groupBy(col("brand_a").as("brand")).agg(count(lit(1)).as("l_c"))
    val m = deg.agg((sum(col("d_c")) / 2).cast("long").as("m"))
    deg.join(intra, Seq("brand"), "left")
      .select(col("brand"), coalesce(col("l_c"), lit(0L)).as("l_c"), col("d_c"))
      .crossJoin(broadcast(m))
      .select(col("brand"), col("l_c"), col("d_c"),
        expr("CAST(CAST(4 * m * l_c - d_c * d_c AS DECIMAL(38,0)) * 1000000 " +
          "div (4 * m * m) AS BIGINT)").as("contrib_ppm"))
      .orderBy(col("brand"))
  }

  val q361Sql: String =
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      |  FROM lp a JOIN lp b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2
      |), e2 AS (
      |  SELECT pa.p_brand AS brand_a, pb.p_brand AS brand_b
      |  FROM e JOIN part pa ON pa.p_partkey = e.part_a
      |         JOIN part pb ON pb.p_partkey = e.part_b
      |), deg AS (
      |  SELECT brand, count(*) AS d_c FROM (
      |    SELECT brand_a AS brand FROM e2
      |    UNION ALL SELECT brand_b AS brand FROM e2
      |  ) GROUP BY 1
      |), intra AS (
      |  SELECT brand_a AS brand, count(*) AS l_c FROM e2
      |  WHERE brand_a = brand_b GROUP BY 1
      |), mm AS (SELECT CAST(sum(d_c) // 2 AS BIGINT) AS m FROM deg)
      |SELECT deg.brand, CAST(coalesce(intra.l_c, 0) AS BIGINT) AS l_c,
      |  CAST(deg.d_c AS BIGINT) AS d_c,
      |  CAST((4 * mm.m * coalesce(intra.l_c, 0) - deg.d_c * deg.d_c) * 1000000
      |    // (4 * mm.m * mm.m) AS BIGINT) AS contrib_ppm
      |FROM deg LEFT JOIN intra USING (brand), mm
      |ORDER BY brand""".stripMargin

  // --------------------------------------------------------------- q362

  /** q362: weighted Jaccard (Σ min / Σ max over token multiplicities)
    * for every pair among docs 0..24 — 300 pairs incl. the
    * no-shared-token ones (generated from the totals, left-joined to
    * the intersection). Scale shape: token counts are one map-combined
    * shuffle; the pair intersection joins on the token key; the
    * bounded doc subset keeps the pair frame broadcastable (at corpus
    * scale the pair set comes from a candidate generator like q29's
    * LSH bands, never all-pairs).
    */
  def q362_weighted_jaccard(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(s, dir).filter(col("doc_id") < 25)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("doc_id")).agg(sum(col("c")).as("total"))
    val inter = cnt.as("a")
      .join(cnt.as("b"), col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(least(col("a.c"), col("b.c"))).as("inter_min"))
    val pairs = tot.as("ta").join(broadcast(tot.as("tb")),
        col("ta.doc_id") < col("tb.doc_id"))
      .select(col("ta.doc_id").as("doc_a"), col("tb.doc_id").as("doc_b"),
        col("ta.total").as("total_a"), col("tb.total").as("total_b"))
    pairs.join(inter, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("inter_min"), lit(0L)).as("inter_min"),
        (col("total_a") + col("total_b") - coalesce(col("inter_min"), lit(0L)))
          .as("union_max"))
      .withColumn("jw_ppm", expr("inter_min * 1000000 div union_max"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q362Sql: String =
    """WITH cnt AS (
      |  SELECT doc_id, w AS tok, count(*) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents WHERE doc_id < 25)
      |  GROUP BY 1, 2
      |), tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total FROM cnt GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(sum(least(a.c, b.c)) AS BIGINT) AS inter_min
      |  FROM cnt a JOIN cnt b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT ta.doc_id AS doc_a, tb.doc_id AS doc_b,
      |    ta.total AS total_a, tb.total AS total_b
      |  FROM tot ta JOIN tot tb ON ta.doc_id < tb.doc_id
      |)
      |SELECT p.doc_a, p.doc_b,
      |  coalesce(i.inter_min, 0) AS inter_min,
      |  p.total_a + p.total_b - coalesce(i.inter_min, 0) AS union_max,
      |  CAST(coalesce(i.inter_min, 0) * 1000000 //
      |    (p.total_a + p.total_b - coalesce(i.inter_min, 0)) AS BIGINT) AS jw_ppm
      |FROM pairs p LEFT JOIN inter i USING (doc_a, doc_b)
      |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------- q363

  /** q363: exact integer lag cross-correlation between the daily click
    * and purchase count series — for each lag k in [−3, 3], the
    * covariance NUMERATOR n·Σxₜyₜ₊ₖ − Σxₜ·Σyₜ₊ₖ over the overlapping
    * day support (positive at k > 0 ⇒ clicks lead purchases by k
    * days). The full Pearson denominator needs per-lag σ (a sqrt); the
    * numerator carries the lead/lag signal and stays integer-exact —
    * the repo's covariance convention. Scale shape: one map-combined
    * shuffle to daily counts (30 rows per month of data), a 7-way lag
    * explode from a literal, and an equi-join on the shifted day —
    * nothing grows with the event count except the first aggregation.
    */
  def q363_lag_correlation(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(expr("ts div 86400000000000").as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val xs = daily.select(col("day"), col("x"))
      .crossJoin(broadcast(s.range(-3, 4).toDF("lag")))
    xs.join(daily.select((col("day")).as("yday"), col("y")),
        col("yday") === col("day") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"))
      .select(col("lag"), col("n_days"), col("sxy"), col("sx"), col("sy"),
        (col("n_days") * col("sxy") - col("sx") * col("sy")).as("cov_num"))
      .orderBy(col("lag"))
  }

  val q363Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY 1
      |), lags AS (SELECT unnest(range(-3, 4)) AS lag),
      |j AS (
      |  SELECT l.lag, a.x, b.y
      |  FROM daily a CROSS JOIN lags l
      |  JOIN daily b ON b.day = a.day + l.lag
      |)
      |SELECT lag, count(*) AS n_days,
      |  CAST(sum(x * y) AS BIGINT) AS sxy,
      |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |  CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS cov_num
      |FROM j GROUP BY lag ORDER BY lag""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q361_modularity", q361_modularity _, q361Sql),
    Query("q362_weighted_jaccard", q362_weighted_jaccard _, q362Sql),
    Query("q363_lag_correlation", q363_lag_correlation _, q363Sql)
  )
}
