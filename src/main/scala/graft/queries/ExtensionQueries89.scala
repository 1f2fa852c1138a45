package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{FpSafe, Tables}
import graft.ops.Ranks

/** Round-13 batch 2: text-quality and uncertainty completions
  * (SURVEY §7.4 text analysis / dedup tiers).
  *
  *  - q358 edit-distance near-dup pairs: true Levenshtein (not the
  *    key-equality of q117's sorted-neighborhood pass) on 60-char
  *    prefixes, under a three-part blocking key (lang, length band,
  *    first token) that keeps every planted near-dup while cutting the
  *    in-block pair count ~30×. Levenshtein is integer-exact on both
  *    engines.
  *  - q359 FORCAST readability: the one published readability formula
  *    designed for NON-PROSE text (technical word lists, forms) — which
  *    this corpus is (no sentence punctuation anywhere, so
  *    Flesch/LIX/SMOG are all degenerate here). Syllables = vowel
  *    groups; grade = 20 − monosyllabic-per-150-words ÷ 10, kept in
  *    exact integer milli-units.
  *  - q360 seeded bootstrap CI for the per-customer mean order value:
  *    B=100 deterministic multinomial resamples driven by the
  *    two-round MINSTD hash (the q354 shuffle contract — one round is
  *    nearly order-preserving), percentile CI from the ranked
  *    replicate means. Complements q344's jackknife (leave-one-out
  *    SE) with the distribution-free interval.
  */
object ExtensionQueries89 extends QueryGroup {

  // --------------------------------------------------------------- q358

  /** q358: near-duplicate pairs by prefix Levenshtein ≤ 20 within
    * (lang, n_chars÷100, first-token) blocks. Scale shape: one
    * equi-join shuffle on the compound block key; the in-block pair
    * count follows the Σ_b c_b² candidate law (q109's class —
    * measured 200 → 19,706 pairs for 10× docs, r13 QueryScaleBench
    * kc ≈ 1.0), INTRINSIC to blocked pairwise dedup on a fixed key.
    * The scale path is sharper blocking, not a smarter join — and it
    * is IMPLEMENTED as [[ExtensionQueries106.q358b_banded_edit_dedup]]
    * (a minhash band of the prefix's 3-shingles joins the key,
    * candidates 19,706 → 77 at sf0.1 with 77/77 recall; measured
    * kc 0.36 vs this query's 0.99) with the zero-loss certificate
    * [[ExtensionQueries106.q358c_banded_recall_cert]]. This query
    * remains the exact reference the certificate verifies against.
    */
  def q358_edit_distance_dedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      expr("n_chars div 100").as("band"),
      split(col("text"), " ").getItem(0).as("w1"),
      substring(col("text"), 1, 60).as("p"))
    d.as("a").join(d.as("b"),
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
          col("a.w1") === col("b.w1") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.p"), col("b.p")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= 20)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q358Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, n_chars // 100 AS band,
      |    string_split(text, ' ')[1] AS w1, text[:60] AS p
      |  FROM documents
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist
      |FROM d a JOIN d b
      |  ON a.lang = b.lang AND a.band = b.band AND a.w1 = b.w1
      |  AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.p, b.p) <= 20
      |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------- q359

  /** q359: per-document FORCAST readability in integer milli-units.
    * Scale shape: explode + one map-combined shuffle back onto doc_id;
    * the regex runs inside whole-stage codegen.
    */
  def q359_forcast_readability(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        (length(regexp_replace(col("tok"), "[aeiou]+", "#")) -
          length(regexp_replace(col("tok"), "[aeiou]+", ""))).cast("long").as("g"))
    toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("g")).as("n_syllables"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n_mono"),
        sum(when(col("g") >= 3, 1L).otherwise(0L)).as("n_poly3"))
      .select(col("doc_id"), col("n_words"), col("n_syllables"),
        col("n_mono"), col("n_poly3"),
        expr("n_syllables * 1000 div n_words").as("spw_milli"),
        expr("20000 - n_mono * 15000 div n_words").as("forcast_milli"))
      .orderBy(col("doc_id"))
  }

  val q359Sql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    CAST(length(regexp_replace(w, '[aeiou]+', '#', 'g')) -
      |         length(regexp_replace(w, '[aeiou]+', '', 'g')) AS BIGINT) AS g
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |)
      |SELECT doc_id, count(*) AS n_words,
      |  CAST(sum(g) AS BIGINT) AS n_syllables,
      |  CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_mono,
      |  CAST(sum(CASE WHEN g >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_poly3,
      |  CAST(CAST(sum(g) AS BIGINT) * 1000 // count(*) AS BIGINT) AS spw_milli,
      |  CAST(20000 - CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) * 15000 // count(*) AS BIGINT)
      |    AS forcast_milli
      |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q360

  /** Two-round MINSTD (the q354 contract) over a long id expression. */
  private def minstd2(gid: String): String =
    s"(48271 * (((48271 * (($gid) + 1)) % 2147483647) + 1)) % 2147483647"

  /** q360: deterministic bootstrap percentile CI (B = 100) for the mean
    * per-customer order value, in exact cents. Replicate r draws n
    * indices via the two-round MINSTD of its global draw id; the CI is
    * the 3rd / 50th / 98th ranked replicate mean (≈ 2.5 / 50 / 97.5
    * percentiles of B = 100). Scale shape: the base statistic is one
    * map-combined shuffle; draws are a generated range joined to the
    * BROADCAST base (the base is per-customer — if it outgrew a
    * broadcast, the draw join shuffles on idx like any equi-join); the
    * B-row replicate frame ranks under [[Ranks.bounded]].
    */
  def q360_bootstrap_ci(s: SparkSession, dir: String): DataFrame = {
    val bReps = 100L
    val base = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) div count(1)")
        .as("stat_c"))
    val idx = graft.ops.DenseIds.withDenseId(base, "idx", 32, col("o_custkey"))
      .select(col("idx"), col("stat_c"))
    val n = idx.count()
    val draws = s.range(0, bReps * n).toDF("gid")
      .select(expr(s"gid div $n").as("r"),
        expr(s"${minstd2("gid")} % $n").as("idx"))
    val reps = draws.join(broadcast(idx), "idx")
      .groupBy(col("r"))
      .agg(expr("sum(stat_c) div count(1)").as("mean_c"))
    val ranked = reps.withColumn("rk",
      row_number().over(Ranks.bounded(col("r"), col("mean_c"), col("r"))).cast("long"))
    val ci = ranked.agg(
      max(when(col("rk") === 3, col("mean_c"))).as("boot_lo_cents"),
      max(when(col("rk") === 50, col("mean_c"))).as("boot_med_cents"),
      max(when(col("rk") === 98, col("mean_c"))).as("boot_hi_cents"))
    val point = idx.agg(expr("sum(stat_c) div count(1)").as("mean_cents"))
    point.crossJoin(ci)
      .select(lit(n).as("n"), lit(bReps).as("b_reps"), col("mean_cents"),
        col("boot_lo_cents"), col("boot_med_cents"), col("boot_hi_cents"))
  }

  val q360Sql: String =
    s"""WITH base AS (
       |  SELECT o_custkey,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // count(*) AS stat_c
       |  FROM orders GROUP BY 1
       |), idx AS (
       |  SELECT stat_c, row_number() OVER (ORDER BY o_custkey) - 1 AS idx FROM base
       |), nn AS (SELECT count(*) AS n FROM base),
       |draws AS (
       |  -- slot (r, i) is enumerated off the base rows themselves (gid =
       |  -- r*n + i) because range() can't take a subquery bound
       |  SELECT t.r, (${minstd2("t.r * nn.n + i.idx")}) % nn.n AS idx
       |  FROM idx i, range(0, 100) t(r), nn
       |), reps AS (
       |  SELECT r, CAST(sum(i.stat_c) AS BIGINT) // count(*) AS mean_c
       |  FROM draws d JOIN idx i USING (idx) GROUP BY r
       |), ranked AS (
       |  SELECT r, mean_c, row_number() OVER (ORDER BY mean_c, r) AS rk FROM reps
       |)
       |SELECT (SELECT n FROM nn) AS n, CAST(100 AS BIGINT) AS b_reps,
       |  (SELECT CAST(sum(stat_c) AS BIGINT) // count(*) FROM base) AS mean_cents,
       |  max(CASE WHEN rk = 3 THEN mean_c END) AS boot_lo_cents,
       |  max(CASE WHEN rk = 50 THEN mean_c END) AS boot_med_cents,
       |  max(CASE WHEN rk = 98 THEN mean_c END) AS boot_hi_cents
       |FROM ranked""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q358_edit_distance_dedup", q358_edit_distance_dedup _, q358Sql),
    Query("q359_forcast_readability", q359_forcast_readability _, q359Sql),
    Query("q360_bootstrap_ci", q360_bootstrap_ci _, q360Sql)
  )
}
