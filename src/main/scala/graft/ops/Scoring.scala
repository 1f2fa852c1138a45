package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Columns, PandasCompat}

/** Config-driven scoring, compiled to literal Catalyst expression trees at
  * plan time (SURVEY.md §1.4): the reference's row-wise `apply` lambdas
  * (`etl_merge.py:804-843`, `:919-943`) become chained `when().otherwise()`
  * CASE expressions that participate in whole-stage codegen — no UDF, no
  * per-row interpretation.
  */
object Scoring {

  /** A position→expected-CTR bucket: key string as written in config
    * ("1", "4-5", "3.1-5"), parsed bounds, raw value.
    * Mirrors `_parse_pos_bucket_key` (`etl_merge.py:355-370`): unparseable
    * keys (e.g. the dead `default` key in the demo config) are skipped.
    */
  final case class Bucket(key: String, lo: Double, hi: Double, raw: Double)

  object Bucket {
    def parseKey(k: String): Option[(Double, Double)] = {
      val t = k.trim
      if (t.contains("-")) {
        val Array(lo, hi) = t.split("-", 2)
        try Some((lo.toDouble, hi.toDouble)) catch { case _: NumberFormatException => None }
      } else {
        try { val v = t.toDouble; Some((v, v)) } catch { case _: NumberFormatException => None }
      }
    }
    def fromConfig(pairs: Seq[(String, Double)]): Seq[Bucket] =
      pairs.flatMap { case (k, v) => parseKey(k).map { case (lo, hi) => Bucket(k, lo, hi, v) } }
  }

  /** Scoring knobs — the subset of etl_config.yaml the reference CODE
    * actually reads (SURVEY.md §1.5 documents the dead keys).
    */
  final case class ScoringConfig(
      buckets: Seq[Bucket],
      units: String = "fraction", // "fraction" | "percent"
      uplift: Double = 0.0,
      margin: Double = 0.0, // thresholds.ctr_underperf_margin
      maxPosition: Double = 5.0, // scoring.max_position_for_ctr_eval
      minClicks: Double = 0.0, // scoring.min_clicks_for_ctr_eval
      intentMultipliers: Map[String, Double] = Map.empty,
      urlIntentHints: Seq[(String, String)] = Seq.empty,
      // Hard cap on the ranked triage set (beyond reference parity — the
      // reference ranks everything). Keeps the rank stage bounded even under
      // a pathological config (maxPosition=∞, margin=0 would otherwise rank
      // the whole table through one task). Any value ≥ the real underperf
      // count is parity-exact; the default is far above every harness scale.
      triageTopN: Int = 1000000) {

    /** `_normalize_expected_ctr_value` (`etl_merge.py:335-353`): percent
      * units → /100, then ×(1+uplift). Applied to bucket values AND to the
      * median fallback.
      */
    def normalizeValue(v: Column): Column = {
      val u = if (units.toLowerCase.trim == "percent") v / 100.0 else v
      if (uplift != 0.0) u * (1.0 + uplift) else u
    }
    def normalizeValue(v: Double): Double = {
      val u = if (units.toLowerCase.trim == "percent") v / 100.0 else v
      if (uplift != 0.0) u * (1.0 + uplift) else u
    }
  }

  /** expected_ctr: first bucket (declaration order) containing position wins;
    * null/out-of-range position → normalized fallback (the dataset median).
    * `expected_ctr_with_bucket` (`etl_merge.py:392-409`). A null position
    * fails every `between` and lands in `otherwise`, exactly like the
    * reference's `lo <= position <= hi` being False for NaN.
    */
  def expectedCtr(cfg: ScoringConfig, position: Column, fallback: Column): Column =
    cfg.buckets.foldRight(cfg.normalizeValue(fallback)) { (b, els) =>
      when(position.between(b.lo, b.hi), lit(cfg.normalizeValue(b.raw))).otherwise(els)
    }

  /** Parallel bucket-label expression → the matched key or "fallback_median". */
  def expectedCtrBucket(cfg: ScoringConfig, position: Column): Column =
    cfg.buckets.foldRight(lit("fallback_median"): Column) { (b, els) =>
      when(position.between(b.lo, b.hi), lit(b.key)).otherwise(els)
    }

  /** intent_multiplier (`etl_merge.py:411-434`): first URL substring hint
    * (config order) wins; else schema_types contains product→transactional,
    * article/blogposting→informational; else 1.0. Nulls behave like the
    * reference's `str(None or "")` → empty string (no match).
    */
  def intentMultiplier(cfg: ScoringConfig, url: Column, schemaTypes: Column): Column = {
    def mult(intent: String): Double = cfg.intentMultipliers.getOrElse(intent, 1.0)
    val u = coalesce(url, lit(""))
    val sch = lower(coalesce(schemaTypes, lit("")))
    val schemaFallback =
      when(sch.contains("product"), lit(mult("transactional")))
        .when(sch.contains("article") || sch.contains("blogposting"), lit(mult("informational")))
        .otherwise(lit(1.0))
    cfg.urlIntentHints.filter(_._1.nonEmpty).foldRight(schemaFallback) {
      case ((hint, intent), els) => when(u.contains(hint), lit(mult(intent))).otherwise(els)
    }
  }

  /** ctr_deficit = clip(expected − ctr − margin, lower=0), null-propagating
    * like pandas (`etl_merge.py:819-824`; PandasCompat.clipNonNeg).
    */
  def ctrDeficit(cfg: ScoringConfig, expected: Column, ctr: Column): Column =
    PandasCompat.clipNonNeg(expected - ctr - lit(cfg.margin))

  /** missed_clicks = deficit × coalesce(impressions,0) × coalesce(intent,1)
    * (`etl_merge.py:832-843`).
    */
  def missedClicks(deficit: Column, impressions: Column, intent: Column): Column =
    deficit * coalesce(impressions, lit(0.0)) * coalesce(intent, lit(1.0))

  /** The anomaly/triage pipeline (`etl_merge.py:904-984`, SURVEY §3.3) as one
    * parameterized transform over a GSC-shaped frame with columns
    * (url, position, ctr, impressions, clicks [, schema_types]).
    *
    * Steps: global median fallback (1-row agg, broadcast cross-join — never a
    * partition-less window) → candidate mask → expected/bucket → deficit →
    * intent → missed_clicks → keep >0 → rank by opportunity with
    * deterministic `url` tiebreak (SURVEY §4.3 — pandas rank ties are
    * arbitrary; we pin them).
    */
  def anomalyTriage(df: DataFrame, cfg: ScoringConfig): DataFrame =
    rankUnderperformers(scoredCandidates(df, cfg), cfg)

  /** The keep-filter + rank stage over an ALREADY-SCORED candidate frame —
    * shared by [[anomalyTriage]] and `Pipeline.run` (which scores once and
    * derives both the debug and the anomaly sinks from the same frame).
    * Bound, then rank: sort+limit keeps the rank stage finite even under a
    * pathological config; the bounded-window spec (Ranks.bounded) then
    * numbers only the survivors — never an unbounded partition-less window.
    */
  def rankUnderperformers(scored: DataFrame, cfg: ScoringConfig): DataFrame = {
    val capped = scored.filter(col("missed_clicks") > 0)
      .orderBy(col("missed_clicks").desc, col("url")).limit(cfg.triageTopN)
    val w = Ranks.bounded(col("url"), col("missed_clicks").desc, col("url"))
    capped
      .withColumn("priority_rank", row_number().over(w).cast("int"))
      .withColumn("intent_note", lit(""))
  }

  /** The full scored candidate frame — every row that passed the candidate
    * mask, with scores, BEFORE the `missed_clicks > 0` keep-filter. This is
    * the reference's `ctr_debug.csv` slice (`etl_merge.py:945-952`), the
    * sink used to triage scoring behavior; [[anomalyTriage]] is its
    * underperformers-only continuation.
    */
  def scoredCandidates(df: DataFrame, cfg: ScoringConfig): DataFrame =
    scoredWithMedian(df.crossJoin(broadcast(
      df.agg(percentile(col("ctr"), lit(0.5)).as("ctr_median")))), cfg)

  /** [[scoredCandidates]] over a frame that already carries the median of
    * its own `ctr` as its last column, `ctr_median` (dropped from the
    * output). */
  def scoredWithMedian(df: DataFrame, cfg: ScoringConfig): DataFrame = {
    val candidates = df
      .filter(col("position").isNotNull && col("ctr").isNotNull && col("impressions").isNotNull)
      .filter(col("position") <= cfg.maxPosition)
    val withMin =
      if (cfg.minClicks > 0) candidates.filter(coalesce(col("clicks"), lit(0.0)) >= cfg.minClicks)
      else candidates
    val schemaCol = if (df.columns.contains("schema_types")) col("schema_types") else lit("")
    // one projection per dependency level; a score column `df` already
    // has is replaced in place, a new one is appended in this order
    val expected = Columns.put(withMin, Seq(
      "expected_ctr" -> expectedCtr(cfg, col("position"), col("ctr_median")),
      "expected_ctr_bucket" -> expectedCtrBucket(cfg, col("position"))))
    val deficit = Columns.put(expected, Seq(
      "ctr_deficit" -> ctrDeficit(cfg, col("expected_ctr"), col("ctr")),
      "intent_multiplier" -> intentMultiplier(cfg, col("url"), schemaCol)))
    Columns.put(deficit, Seq("missed_clicks" ->
      coalesce(missedClicks(col("ctr_deficit"), col("impressions"), col("intent_multiplier")),
        lit(0.0))), drop = Set("ctr_median"))
  }
}
