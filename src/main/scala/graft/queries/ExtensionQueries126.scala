package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Dedup

/** Estimator-quality and tail/richness diagnostics —
  * auditing the engine's own approximations (q464), the corpus's
  * unseen mass (q467), heavy tails (q465), and rank-based scale
  * difference (q466).
  *
  *  - q464 MinHash estimator calibration: for every exact-Jaccard pair
  *    (q26's capped index), the 64-component signature estimate vs the
  *    exact value, bucketed by absolute error with signed bias — the
  *    measurement that justifies (or indicts) every LSH threshold in
  *    the dedup tier (q161 sweeps band geometry; this audits the
  *    estimator itself).
  *  - q465 max-to-sum ratios R_k = max(x^k)·10⁶ div Σx^k, k = 1..4,
  *    over customer spend — the classical diagnostic for which moments
  *    exist (R_k → 0 iff E[x^k] < ∞); products ride DECIMAL(38,0)
  *    (HUGEINT mirror), only the BIGINT ratio is emitted.
  *  - q466 Ansari–Bradley scale test between click and view daily
  *    value series: min(rank, N+1−rank) scores off ONE pooled total
  *    order (ties broken (cents, day, series) — stated, no midranks),
  *    with the exact parity-split null mean/variance in milli.
  *  - q467 Chao1 richness + Good–Turing coverage per language over
  *    (doc, distinct 3-shingle) instances: S_obs + f1²/(2f2) (f2 = 0
  *    falls back to f1(f1−1)/2, stated) and coverage (M − f1)·10⁶
  *    div M — "how much vocabulary haven't we crawled yet", the
  *    asymptote behind q456's novelty-decay curve.
  *
  * Scale shapes: q464 rides the capped pair index + two sig joins
  * (signatures are 64 longs, built once per doc); q465 one rollup +
  * one 4-row agg; q466 day-window-bounded (60-row pooled frame); q467
  * one shingle rollup → frequency rollup (gram-keyed, linear, the
  * q26/q443 shape).
  */
object ExtensionQueries126 extends QueryGroup {

  // -------------------------------------------------------------- q464

  /** Calibration threshold for the exact-side pair generator (ppm). */
  private val CalibTPpm = 500000L

  /** q464: per error bucket |est − exact| div 100000 (ppm deciles):
    * pair count and mean signed error est − exact (ppm, truncated div).
    * est_ppm = matches·10⁶ div 64 over the 64-component signatures.
    *
    * Pair frame: calibrating over the FULL sub-cap shingle pair index
    * is quadratic (the sf1x ShuffleAudit rung measured it at 85× bytes
    * for 10× docs, exp ≈ 1.9, 20 GB spill — the hot-shingle cap does not
    * bind below c = 1000). Calibration only matters where a DECISION can
    * go wrong, so the pair frame is the union of the two decision surfaces:
    *  - exact side: PPJoin pairs at J ≥ [[CalibTPpm]] (prefix-filtered
    *    — the pairs a threshold dedup must keep; the false-NEGATIVE
    *    direction, where the estimator under-reads a true dup);
    *  - estimator side: the 16×4 banded-LSH candidates (the pairs the
    *    banding actually surfaces; the false-POSITIVE direction, where
    *    the estimator over-reads a non-dup).
    * Both generators are the engine's own certified scale-path
    * operators (q109's PPJoin, q29's banding); pairs in neither frame
    * are invisible to every decision path and carry no calibration
    * information a threshold consumer can use.
    */
  def q464_minhash_calibration(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val shingles = ExtensionQueries9.q109Shingles(s, dir)
    // shared staged frame (see ExtensionQueries9.ppjoinPairsStaged)
    val exactPairs = ExtensionQueries9.ppjoinPairsStaged(s, dir, CalibTPpm)
      .select(col("id_a"), col("id_b"))
    // sigs feeds the plan three times (banding + both estimator joins)
    // and the 64-component minhash over every doc is the frame's whole
    // cost — scoped cache makes it compute once per action (q140 pattern)
    val sigs = graft.core.CacheScope.scoped(
      d.filter(size(split(col("text"), " ")) >= 3)
        .withColumn("hashes", Dedup.shingleHashes(col("text"), 3))
        .select(col("doc_id"), Dedup.minhashFromHashes(col("hashes"), 64).as("sig")))
    val lshPairs = Dedup.lshCandidates(sigs, "doc_id", col("sig"), bands = 16)
    val cand = exactPairs.unionByName(lshPairs).distinct()
    // same single-computation contract for the per-set element arrays
    // (consumed by both sides of the exact-Jaccard verification)
    val sets = graft.core.CacheScope.scoped(shingles.distinct()
      .groupBy(col("doc_id"))
      .agg(collect_list(col("sh")).as("es"), count(lit(1)).as("nsh")))
    val withExact = cand
      .join(sets.select(col("doc_id").as("id_a"), col("es").as("ea"),
        col("nsh").as("na")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("es").as("eb"),
        col("nsh").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ea"), col("eb"))).cast("long").as("inter"),
        col("na"), col("nb"))
      .select(col("id_a"), col("id_b"),
        expr("inter * 1000000 div (na + nb - inter)").as("exact_ppm"))
    val est = withExact
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("exact_ppm"),
        expr("aggregate(zip_with(sig_a, sig_b, (zx, zy) -> " +
          "CASE WHEN zx = zy THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v) * 1000000 div 64").as("est_ppm"))
    est.select(expr("abs(est_ppm - exact_ppm) div 100000").as("err_bucket"),
        (col("est_ppm") - col("exact_ppm")).as("err"))
      .groupBy(col("err_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(err) div count(1)").as("mean_signed_err_ppm"))
      .orderBy(col("err_bucket"))
  }

  val q464Sql: String = {
    val toks = "string_split(text, ' ')"
    s"""WITH shd AS MATERIALIZED (
       |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
       |    range(1, len($toks) - 1),
       |    sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + 2), ' ')))) AS sh
       |  FROM documents WHERE len($toks) >= 3
       |), sizes AS MATERIALIZED (SELECT id, count(*) AS nsh FROM shd GROUP BY id),
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM shd a JOIN shd b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2
       |), epair AS (
       |  SELECT id_a, id_b FROM pairs
       |  JOIN sizes na ON id_a = na.id JOIN sizes nb ON id_b = nb.id
       |  WHERE CAST(inter AS BIGINT) * 1000000 >= $CalibTPpm * (na.nsh + nb.nsh - inter)
       |), hs AS (
       |  SELECT doc_id, list_transform(
       |    list_transform(range(1, len($toks) - 1),
       |      sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + 2), ' ')),
       |    sh_s -> ${QueryBlocks.phSql("sh_s")}) AS hashes
       |  FROM documents WHERE len($toks) >= 3
       |), sg AS MATERIALIZED (
       |  SELECT doc_id, list_transform(range(0, 64), mh_i ->
       |    list_min(list_transform(hashes, mh_h ->
       |      (mh_h * (((2*mh_i + 1) * 2654435761) % 1000000007) + (40503*mh_i + 1)) % 1000000007))) AS sig
       |  FROM hs
       |), bands AS (SELECT unnest(range(0, 16)) AS band
       |), banded AS (
       |  SELECT doc_id, band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, band*4 + 1, band*4 + 4)),
       |      (bk_a, bk_x) -> (bk_a*31 + bk_x) % 1000000007) AS band_key
       |  FROM sg CROSS JOIN bands
       |), lcand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |), allc AS (
       |  SELECT id_a, id_b FROM epair UNION SELECT id_a, id_b FROM lcand
       |), ex AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(coalesce(p.inter, 0) AS BIGINT) * 1000000
       |      // (na.nsh + nb.nsh - coalesce(p.inter, 0)) AS exact_ppm
       |  FROM allc c
       |  LEFT JOIN pairs p ON c.id_a = p.id_a AND c.id_b = p.id_b
       |  JOIN sizes na ON c.id_a = na.id JOIN sizes nb ON c.id_b = nb.id
       |), est AS (
       |  SELECT ex.exact_ppm,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      eq_i -> CASE WHEN sa.sig[eq_i] = sb.sig[eq_i] THEN 1 ELSE 0 END))
       |      AS BIGINT) * 1000000 // 64 AS est_ppm
       |  FROM ex JOIN sg sa ON ex.id_a = sa.doc_id JOIN sg sb ON ex.id_b = sb.doc_id
       |)
       |SELECT abs(est_ppm - exact_ppm) // 100000 AS err_bucket,
       |  count(*) AS n_pairs,
       |  CAST(sum(est_ppm - exact_ppm) AS BIGINT) // count(*)
       |    AS mean_signed_err_ppm
       |FROM est GROUP BY 1 ORDER BY err_bucket""".stripMargin
  }

  // -------------------------------------------------------------- q465

  /** q465: R_k in ppm over customer total spend in truncated whole
    * DOLLARS (cents div 100, stated — the cents scale overflows even
    * INT128 at k = 4: x⁴·10⁶ needs ~41 digits); k = 1..4 via an
    * exploded power grid so ONE rollup serves all four moments.
    */
  def q465_max_to_sum(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100").as("usd"))
    cust.select(col("usd"), explode(expr("sequence(1, 4)")).as("k"))
      .select(col("k"),
        expr("CASE WHEN k = 1 THEN CAST(usd AS DECIMAL(38,0)) " +
          "WHEN k = 2 THEN CAST(usd AS DECIMAL(38,0)) * usd " +
          "WHEN k = 3 THEN CAST(usd AS DECIMAL(38,0)) * usd * usd " +
          "ELSE CAST(usd AS DECIMAL(38,0)) * usd * usd * usd END").as("xk"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), max(col("xk")).as("mx"), sum(col("xk")).as("sm"))
      .select(col("k").cast("long").as("k"), col("n"),
        expr("CAST(mx * 1000000 div sm AS BIGINT)").as("r_ppm"))
      .orderBy(col("k"))
  }

  val q465Sql: String =
    """WITH cust AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS usd
      |  FROM orders GROUP BY o_custkey
      |), powered AS (
      |  SELECT g.k,
      |    CASE WHEN g.k = 1 THEN CAST(usd AS HUGEINT)
      |      WHEN g.k = 2 THEN CAST(usd AS HUGEINT) * usd
      |      WHEN g.k = 3 THEN CAST(usd AS HUGEINT) * usd * usd
      |      ELSE CAST(usd AS HUGEINT) * usd * usd * usd END AS xk
      |  FROM cust CROSS JOIN (SELECT unnest(range(1, 5)) AS k) g
      |)
      |SELECT k, count(*) AS n,
      |  CAST(max(xk) * 1000000 // sum(xk) AS BIGINT) AS r_ppm
      |FROM powered GROUP BY k ORDER BY k""".stripMargin

  // -------------------------------------------------------------- q466

  /** q466: pooled click ∪ view daily cents ranked by (cents, day,
    * series) — series tag 'c' < 'v' breaks cross-series ties (stated;
    * exact-rank convention, no midranks). Score = least(rank, N+1−rank);
    * W = Σ scores over the click sample. Null moments (x-sample size m,
    * y-sample n, N = m + n): even N → mean = m(N+2)/4,
    * var = mn(N+2)(N−2)/(48(N−1)); odd N → mean = m(N+1)²/(4N),
    * var = mn(N+1)(3+N²)/(48N²); both emitted in milli (div).
    */
  def q466_ansari_bradley(s: SparkSession, dir: String): DataFrame = {
    def series(tpe: String, tag: String) = Tables.events(s, dir)
      .filter(col("event_type") === tpe)
      .groupBy(expr("ts div 1000 div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .select(col("day"), col("cents"), lit(tag).as("tag"))
    val pooled = series("click", "c").unionAll(series("view", "v"))
    val ranked = pooled.as("a").join(broadcast(pooled.as("b")),
        col("b.cents") < col("a.cents") ||
          (col("b.cents") === col("a.cents") && (col("b.day") < col("a.day") ||
            (col("b.day") === col("a.day") && col("b.tag") <= col("a.tag")))))
      .groupBy(col("a.day"), col("a.tag"))
      .agg(count(lit(1)).as("r"))
    val sizes = pooled.groupBy(col("tag")).agg(count(lit(1)).as("c"))
      .agg(sum(when(col("tag") === "c", col("c"))).as("m"),
        sum(when(col("tag") === "v", col("c"))).as("n"))
    ranked.crossJoin(broadcast(sizes))
      .select(col("tag"), col("r"), col("m"), col("n"), (col("m") + col("n")).as("nn"))
      .select(col("tag"), col("m"), col("n"), col("nn"),
        least(col("r"), col("nn") + 1 - col("r")).as("score"))
      .filter(col("tag") === "c")
      .groupBy(col("m"), col("n"), col("nn"))
      .agg(sum(col("score")).as("w_stat"))
      .select(col("m").as("n_click"), col("n").as("n_view"), col("w_stat"),
        expr("CASE WHEN nn % 2 = 0 THEN m * (nn + 2) * 1000 div 4 " +
          "ELSE m * (nn + 1) * (nn + 1) * 1000 div (4 * nn) END").as("mean_milli"),
        expr("CASE WHEN nn % 2 = 0 THEN m * n * (nn + 2) * (nn - 2) * 1000 " +
          "div (48 * (nn - 1)) ELSE m * n * (nn + 1) * (3 + nn * nn) * 1000 " +
          "div (48 * nn * nn) END").as("var_milli"))
  }

  val q466Sql: String = {
    def series(tpe: String, tag: String) =
      s"""SELECT epoch_us(ts) // 86400000000 AS day,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         |    '$tag' AS tag
         |  FROM events WHERE event_type = '$tpe' GROUP BY 1""".stripMargin
    s"""WITH pooled AS (
       |  ${series("click", "c")}
       |  UNION ALL
       |  ${series("view", "v")}
       |), ranked AS (
       |  SELECT tag,
       |    CAST(row_number() OVER (ORDER BY cents, day, tag) AS BIGINT) AS r
       |  FROM pooled
       |), sizes AS (
       |  SELECT CAST(sum(CASE WHEN tag = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS m,
       |    CAST(sum(CASE WHEN tag = 'v' THEN 1 ELSE 0 END) AS BIGINT) AS n,
       |    count(*) AS nn
       |  FROM pooled
       |)
       |SELECT s.m AS n_click, s.n AS n_view,
       |  CAST(sum(least(r.r, s.nn + 1 - r.r)) AS BIGINT) AS w_stat,
       |  CASE WHEN s.nn % 2 = 0 THEN s.m * (s.nn + 2) * 1000 // 4
       |    ELSE s.m * (s.nn + 1) * (s.nn + 1) * 1000 // (4 * s.nn) END
       |    AS mean_milli,
       |  CASE WHEN s.nn % 2 = 0 THEN s.m * s.n * (s.nn + 2) * (s.nn - 2) * 1000
       |    // (48 * (s.nn - 1)) ELSE s.m * s.n * (s.nn + 1) * (3 + s.nn * s.nn)
       |    * 1000 // (48 * s.nn * s.nn) END AS var_milli
       |FROM ranked r, sizes s WHERE r.tag = 'c'
       |GROUP BY s.m, s.n, s.nn""".stripMargin
  }

  // -------------------------------------------------------------- q467

  /** q467: per language over (doc, distinct 3-shingle) instances —
    * S_obs, f1, f2, M, Chao1 = S + f1² div (2f2) (f2 = 0 → S +
    * f1(f1−1) div 2, stated), Good–Turing coverage (M − f1)·10⁶ div M.
    */
  def q467_chao1_richness(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(s, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("lang"),
        explode(array_distinct(Dedup.shingleHashes(col("text"), 3))).as("sh"))
    val freq = sh.groupBy(col("lang"), col("sh")).agg(count(lit(1)).as("f"))
    freq.groupBy(col("lang"))
      .agg(count(lit(1)).as("s_obs"),
        sum(col("f")).as("m_instances"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("f") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("lang"), col("s_obs"), col("f1"), col("f2"), col("m_instances"),
        expr("s_obs + CAST(CASE WHEN f2 > 0 THEN " +
          "CAST(f1 AS DECIMAL(38,0)) * f1 div (2 * f2) " +
          "ELSE CAST(f1 AS DECIMAL(38,0)) * (f1 - 1) div 2 END AS BIGINT)")
          .as("chao1_est"),
        expr("(m_instances - f1) * 1000000 div m_instances").as("coverage_ppm"))
      .orderBy(col("lang"))
  }

  val q467Sql: String = {
    val toks = "string_split(text, ' ')"
    s"""WITH sh0 AS (
       |  SELECT lang, unnest(list_distinct(list_transform(
       |    list_transform(range(1, len($toks) - 1),
       |      sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + 2), ' ')),
       |    sh_s -> ${QueryBlocks.phSql("sh_s")}))) AS sh
       |  FROM documents WHERE len($toks) >= 3
       |), freq AS (
       |  SELECT lang, sh, count(*) AS f FROM sh0 GROUP BY 1, 2
       |), agg AS (
       |  SELECT lang, count(*) AS s_obs,
       |    CAST(sum(f) AS BIGINT) AS m_instances,
       |    CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       |    CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
       |  FROM freq GROUP BY lang
       |)
       |SELECT lang, s_obs, f1, f2, m_instances,
       |  s_obs + CAST(CASE WHEN f2 > 0 THEN CAST(f1 AS HUGEINT) * f1 // (2 * f2)
       |    ELSE CAST(f1 AS HUGEINT) * (f1 - 1) // 2 END AS BIGINT) AS chao1_est,
       |  (m_instances - f1) * 1000000 // m_instances AS coverage_ppm
       |FROM agg ORDER BY lang""".stripMargin
  }

  val entries: Seq[Query] = Seq(
    Query("q464_minhash_calibration", q464_minhash_calibration _, q464Sql),
    Query("q465_max_to_sum", q465_max_to_sum _, q465Sql),
    Query("q466_ansari_bradley", q466_ansari_bradley _, q466Sql),
    Query("q467_chao1_richness", q467_chao1_richness _, q467Sql)
  )
}
