package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Multimodal
import graft.ops.PrefixScan
import QueryBlocks.{spend, spendBySegment, spendByTreat}

/** Vision token budgeting and dispersion/effect-size
  * closers.
  *
  *  - q419 ViT patch-grid budgeting — the multimodal pre-tokenization
  *    op: every image resolves to the shallowest power-of-two pyramid
  *    level whose 16×16 patch grid fits a 256-token budget (the
  *    mip-chain rule a vision encoder's preprocessor runs), with the
  *    grid's padding waste in exact ppm. Completes the multimodal tier
  *    (q32 decode → q67 frame-sample → q419 token budget) — the
  *    numbers a training-cost projection actually consumes.
  *  - q420 Gini mean difference — E|X−X'| via the sorted identity
  *    Σ(2i−n−1)·x₍ᵢ₎ (one PrefixScan rank pass, never pairwise),
  *    absolute (milli-dollars) and relative (ppm of the mean):
  *    q162's Gini is GMD/2µ; this exposes the dispersion measure
  *    itself.
  *  - q421 robust shape per segment — Bowley quartile skewness and
  *    the quartile coefficient of dispersion plus the MAD, all from
  *    exact percentile_disc values: the outlier-immune shape summary
  *    q378's moment-based skew/kurtosis can't give on heavy tails.
  *  - q422 Cliff's delta — the ordinal effect size for BUILDING vs
  *    the rest: δ = (#(x>y) − #(x<y))/(mn) off pooled midranks (one
  *    sort, no m×n pairing), in exact ppm. The companion magnitude to
  *    q178's AUC (δ = 2·AUC − 1 under no ties).
  */
object ExtensionQueries111 extends QueryGroup {

  // -------------------------------------------------------------- q419

  /** q419: per-image patch-grid budget. Native (width, height) come
    * from the deterministic stub decode (q32's contract); level ℓ
    * halves each axis ⌈·/2^ℓ⌉; the chosen level is the smallest with
    * ⌈w/16⌉·⌈h/16⌉ ≤ 256. waste_ppm measures grid padding:
    * (grid pixels − image pixels)·10⁶ div grid pixels. Scale shape:
    * the 7-row level frame explodes per image (a category constant),
    * one min-aggregate picks the level — linear, no shuffle beyond
    * the rollup.
    */
  def q419_patch_grid(s: SparkSession, dir: String): DataFrame = {
    val feats = Multimodal.decodeFeatures(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir)))
      .toDF().filter(col("kind") === "image")
      .select(col("media_id"), col("width").cast("long").as("w"),
        col("height").cast("long").as("h"))
    val lvls = feats
      .select(col("media_id"), col("w"), col("h"),
        explode(sequence(lit(0L), lit(6L))).as("lvl"))
      .select(col("media_id"), col("w"), col("h"), col("lvl"),
        expr("(w + shiftleft(CAST(1 AS BIGINT), CAST(lvl AS INT)) - 1) div shiftleft(CAST(1 AS BIGINT), CAST(lvl AS INT))").as("wl"),
        expr("(h + shiftleft(CAST(1 AS BIGINT), CAST(lvl AS INT)) - 1) div shiftleft(CAST(1 AS BIGINT), CAST(lvl AS INT))").as("hl"))
      .select(col("media_id"), col("w"), col("h"), col("lvl"),
        col("wl"), col("hl"),
        (expr("(wl + 15) div 16") * expr("(hl + 15) div 16")).as("tokens"))
    lvls.filter(col("tokens") <= 256L)
      .groupBy(col("media_id"), col("w"), col("h"))
      .agg(min(col("lvl")).as("level"))
      .join(lvls.select(col("media_id").as("mid2"), col("lvl"),
          col("wl"), col("hl"), col("tokens")),
        col("media_id") === col("mid2") && col("level") === col("lvl"))
      .select(col("media_id"), col("w").as("width"), col("h").as("height"),
        col("level"), col("tokens"),
        expr("((((wl + 15) div 16) * 16 * (((hl + 15) div 16) * 16)) - wl * hl) " +
          "* 1000000 div ((((wl + 15) div 16) * 16) * (((hl + 15) div 16) * 16))")
          .as("waste_ppm"))
      .orderBy(col("media_id"))
  }

  val q419Sql: String = {
    val ph = QueryBlocks.phSql("text")
    s"""WITH t AS (
       |  SELECT doc_id AS media_id, $ph AS hsh
       |  FROM documents WHERE doc_id % 3 = 0
       |), f AS (
       |  SELECT media_id,
       |    CAST(hsh % 640 + 1 AS BIGINT) AS w,
       |    CAST((hsh // 640) % 480 + 1 AS BIGINT) AS h
       |  FROM t
       |), lvls AS (
       |  SELECT media_id, w, h, lvl,
       |    (w + (CAST(1 AS BIGINT) << CAST(lvl AS INT)) - 1) // (CAST(1 AS BIGINT) << CAST(lvl AS INT)) AS wl,
       |    (h + (CAST(1 AS BIGINT) << CAST(lvl AS INT)) - 1) // (CAST(1 AS BIGINT) << CAST(lvl AS INT)) AS hl
       |  FROM f CROSS JOIN (SELECT unnest(range(0, 7)) AS lvl)
       |), tok AS (
       |  SELECT media_id, w, h, lvl, wl, hl,
       |    ((wl + 15) // 16) * ((hl + 15) // 16) AS tokens
       |  FROM lvls
       |), pick AS (
       |  SELECT media_id, w, h, min(lvl) AS level
       |  FROM tok WHERE tokens <= 256 GROUP BY media_id, w, h
       |)
       |SELECT p.media_id, p.w AS width, p.h AS height, p.level, k.tokens,
       |  (((((k.wl + 15) // 16) * 16) * (((k.hl + 15) // 16) * 16)) - k.wl * k.hl)
       |    * 1000000 // ((((k.wl + 15) // 16) * 16) * (((k.hl + 15) // 16) * 16))
       |    AS waste_ppm
       |FROM pick p JOIN tok k ON k.media_id = p.media_id AND k.lvl = p.level
       |ORDER BY p.media_id""".stripMargin
  }

  // -------------------------------------------------------------- q420

  /** q420: Gini mean difference of customer spend (whole dollars).
    * Σ_{i<j}|xᵢ−xⱼ| = Σᵢ(2i−n−1)·x₍ᵢ₎ over the value-sorted sequence
    * — ranks via PrefixScan cumulative counts (custkey tiebreak; ties
    * in value cancel inside the identity, so any tie order is
    * exact). gmd_milli = 2·S·1000 div (n(n−1)); rel ppm vs the mean.
    */
  def q420_gini_mean_difference(s: SparkSession, dir: String): DataFrame = {
    val sp = spend(s, dir)
    val ranked = PrefixScan.prefixSumsInclusive(sp, 16,
      Seq(col("v"), col("o_custkey")), Seq((lit(1L), "i")))
    ranked.agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(expr("CAST(2 * i AS DECIMAL(38,0)) * v - CAST(v AS DECIMAL(38,0))"))
          .as("wsum_raw"))
      .select(col("n").as("n_customers"),
        expr("CAST((2 * (wsum_raw - CAST(n AS DECIMAL(38,0)) * sv)) * 1000 " +
          "div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)").as("gmd_milli"),
        expr("CAST((2 * (wsum_raw - CAST(n AS DECIMAL(38,0)) * sv)) * 1000000 " +
          "div (CAST(n - 1 AS DECIMAL(38,0)) * sv) AS BIGINT)").as("gmd_rel_ppm"))
  }

  val q420Sql: String =
    """WITH sp AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders GROUP BY o_custkey
      |), r AS (
      |  SELECT v, row_number() OVER (ORDER BY v, o_custkey) AS i FROM sp
      |), agg AS (
      |  SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS sv,
      |    CAST(sum(CAST(2 * i AS HUGEINT) * v - CAST(v AS HUGEINT)) AS HUGEINT)
      |      AS wsum_raw
      |  FROM r
      |)
      |SELECT n AS n_customers,
      |  CAST((2 * (wsum_raw - CAST(n AS HUGEINT) * sv)) * 1000
      |    // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS gmd_milli,
      |  CAST((2 * (wsum_raw - CAST(n AS HUGEINT) * sv)) * 1000000
      |    // (CAST(n - 1 AS HUGEINT) * sv) AS BIGINT) AS gmd_rel_ppm
      |FROM agg""".stripMargin

  // -------------------------------------------------------------- q421

  /** q421: per-segment robust shape — Bowley skewness
    * (q3 + q1 − 2·q2)·10⁶ div (q3 − q1), quartile coefficient of
    * dispersion (q3 − q1)·10⁶ div (q3 + q1), and the MAD (median
    * absolute deviation — a second exact discrete median over
    * |v − median|). Scale shape: two percentile passes + one
    * broadcast join.
    */
  def q421_robust_shape(s: SparkSession, dir: String): DataFrame = {
    val sp = spendBySegment(s, dir)
      .select(col("seg"), col("v"))
    val quart = sp.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_customers"),
        expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("q1"),
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("q2"),
        expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("q3"))
    val mad = sp.join(broadcast(quart.select(col("seg"), col("q2"))), "seg")
      .groupBy(col("seg"))
      .agg(expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(v - q2)) AS BIGINT)")
        .as("mad"))
    quart.join(broadcast(mad), "seg")
      .select(col("seg"), col("n_customers"), col("q1"), col("q2"), col("q3"),
        col("mad"),
        expr("CASE WHEN q3 = q1 THEN 0 ELSE (q3 + q1 - 2 * q2) * 1000000 div (q3 - q1) END")
          .as("bowley_ppm"),
        expr("CASE WHEN q3 + q1 = 0 THEN 0 ELSE (q3 - q1) * 1000000 div (q3 + q1) END")
          .as("qcd_ppm"))
      .orderBy(col("seg"))
  }

  val q421Sql: String =
    """WITH sp AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY o.o_custkey, c.c_mktsegment
      |), quart AS (
      |  SELECT seg, count(*) AS n_customers,
      |    quantile_disc(v, 0.25) AS q1, quantile_disc(v, 0.5) AS q2,
      |    quantile_disc(v, 0.75) AS q3
      |  FROM sp GROUP BY seg
      |), mad AS (
      |  SELECT sp.seg, quantile_disc(abs(sp.v - quart.q2), 0.5) AS mad
      |  FROM sp JOIN quart ON sp.seg = quart.seg
      |  GROUP BY sp.seg
      |)
      |SELECT q.seg, q.n_customers, q.q1, q.q2, q.q3, m.mad,
      |  CASE WHEN q.q3 = q.q1 THEN 0
      |    ELSE (q.q3 + q.q1 - 2 * q.q2) * 1000000 // (q.q3 - q.q1) END AS bowley_ppm,
      |  CASE WHEN q.q3 + q.q1 = 0 THEN 0
      |    ELSE (q.q3 - q.q1) * 1000000 // (q.q3 + q.q1) END AS qcd_ppm
      |FROM quart q JOIN mad m ON q.seg = m.seg
      |ORDER BY q.seg""".stripMargin

  // -------------------------------------------------------------- q422

  /** q422: Cliff's δ for BUILDING-segment customer spend vs everyone
    * else, off pooled midranks: with S2 = Σ doubled midranks over the
    * BUILDING group, U = (S2 − m(m+1))/2 counts (wins + ties/2), and
    * δ_ppm = (S2 − m(m+1) − m·nOther)·10⁶ div (m·nOther) — one sort,
    * zero pairing. Scale shape: the q407 distinct-value PrefixScan
    * reused on a two-group split.
    */
  def q422_cliffs_delta(s: SparkSession, dir: String): DataFrame = {
    val sp = spendByTreat(s, dir)
      .select(col("treat"), col("v"))
    val vals = sp.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val ranked = PrefixScan.prefixSumsInclusive(vals, 16, Seq(col("v")),
        Seq((col("cnt"), "cumc")))
      .select(col("v"), (lit(2L) * col("cumc") - col("cnt") + 1L).as("r2"))
    sp.filter(col("treat")).groupBy(col("v")).agg(count(lit(1)).as("c_t"))
      .join(ranked, "v")
      .agg(sum(col("c_t")).as("m"), sum(col("c_t") * col("r2")).as("s2"))
      .crossJoin(broadcast(sp.agg(count(lit(1)).as("n_all"))))
      .select(col("m").as("n_building"), (col("n_all") - col("m")).as("n_rest"),
        expr("(s2 - m * (m + 1) - m * (n_all - m)) * 1000000 div (m * (n_all - m))")
          .as("cliffs_delta_ppm"))
  }

  val q422Sql: String =
    """WITH sp AS (
      |  SELECT (c.c_mktsegment = 'BUILDING') AS treat,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY o.o_custkey, c.c_mktsegment
      |), vals AS (
      |  SELECT v, count(*) AS cnt FROM sp GROUP BY v
      |), ranked AS (
      |  SELECT v, 2 * sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW) - cnt + 1 AS r2
      |  FROM vals
      |), t AS (
      |  SELECT CAST(sum(g.c_t) AS BIGINT) AS m,
      |    CAST(sum(g.c_t * r.r2) AS BIGINT) AS s2
      |  FROM (SELECT v, count(*) AS c_t FROM sp WHERE treat GROUP BY v) g
      |  JOIN ranked r USING (v)
      |), a AS (SELECT count(*) AS n_all FROM sp)
      |SELECT t.m AS n_building, a.n_all - t.m AS n_rest,
      |  (t.s2 - t.m * (t.m + 1) - t.m * (a.n_all - t.m)) * 1000000
      |    // (t.m * (a.n_all - t.m)) AS cliffs_delta_ppm
      |FROM t, a""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q419_patch_grid", q419_patch_grid _, q419Sql),
    Query("q420_gini_mean_difference", q420_gini_mean_difference _, q420Sql),
    Query("q421_robust_shape", q421_robust_shape _, q421Sql),
    Query("q422_cliffs_delta", q422_cliffs_delta _, q422Sql)
  )
}
