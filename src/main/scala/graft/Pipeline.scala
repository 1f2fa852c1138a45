package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.CacheBridge
import graft.core.{CacheScope, Ckpt, Columns, NumOps, PandasCompat, StagedMemo, UrlOps}
import graft.ingest.{SchemaResolve, Sources, YamlConfig}
import graft.ops.{CtrNormalize, Scoring}
import graft.ops.Scoring.ScoringConfig

/** The reference's end-to-end visibility merge (`etl_merge.py:733-1012`,
  * SURVEY §3) as one lazy Spark pipeline: three dirty CSV sources → schema
  * resolution → normalization → per-source aggregation → 3-way left join on
  * the deduplicated crawl spine → derived metrics → config-driven scoring →
  * run metadata → pandas-faithful rounding → merged frame + triage slices.
  *
  * Differences from the reference, by design (SURVEY §4.3):
  *  - keep-first dedup and rank ties pinned with explicit orderings;
  *  - SQL null instead of NaN/inf (x/0 → null);
  *  - siteBase/stripAllParams/runId are explicit config, not env reads at
  *    call time (deterministic plans, testable).
  */
object Pipeline {

  final case class PipelineConfig(
      frogPath: String,
      gscPath: String,
      ga4Path: String,
      siteBase: String = "",
      stripAllParams: Boolean = false,
      scoring: ScoringConfig = ScoringConfig(buckets = Nil),
      runId: String = "test_run",
      runTimestamp: Long = 0L)

  private def urlNorm(cfg: PipelineConfig)(c: org.apache.spark.sql.Column) =
    UrlOps.urlNormalize(c, cfg.siteBase, cfg.stripAllParams)

  /** The reference main()'s config glue (`etl_merge.py:733-765`) as a pure
    * function of (yaml text, environment): input paths resolve through the
    * full A4 ladder (ENV override → `inputs:` keys with the `_xlsx`
    * sibling and `.csv`↔`.xlsx` swap → `defaultsDir` demo files),
    * SITE_BASE / STRIP_ALL_QUERY_PARAMS / RUN_ID come from env exactly as
    * the reference reads them, scoring from the YAML. The environment is a
    * parameter (not read at call time) so plans stay deterministic and
    * testable — pass `sys.env` at a real CLI boundary.
    */
  def configFromYaml(yamlText: String, env: Map[String, String],
      defaultsDir: String, runTimestamp: Long): PipelineConfig = {
    val inputs = YamlConfig.parseInputs(yamlText)
    def res(envName: String, key: String, default: String) =
      Sources.resolveInputPath(envName, inputs, key, s"$defaultsDir/$default", env)
    val truthy = Set("1", "true", "yes")
    val runId = env.get("RUN_ID").filter(_.nonEmpty).getOrElse(
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochSecond(runTimestamp)))
    PipelineConfig(
      frogPath = res("FROG_CSV_PATH", "screaming_frog_csv", "screaming_frog_export.csv"),
      gscPath = res("GSC_CSV_PATH", "gsc_csv", "gsc_export.csv"),
      ga4Path = res("GA4_CSV_PATH", "ga4_csv", "ga4_export.csv"),
      siteBase = env.getOrElse("SITE_BASE", "").trim,
      stripAllParams = truthy(env.getOrElse("STRIP_ALL_QUERY_PARAMS", "").toLowerCase.trim),
      scoring = YamlConfig.parseScoring(yamlText),
      runId = runId,
      runTimestamp = runTimestamp)
  }

  /** Canonical wanted-column sets per source (`etl_merge.py:527/547/603`). */
  val FrogColumns: Seq[String] = Seq("url", "status_code", "title",
    "meta_description", "click_depth", "inlinks", "word_count", "schema_types")
  val GscColumns: Seq[String] = Seq("url", "clicks", "impressions", "ctr", "position")
  val Ga4Columns: Seq[String] = Seq("url", "users", "sessions",
    "engaged_sessions", "avg_engagement_time")

  /** One shared header-resolution step per source — trim, GA4 renames, and
    * the url-autodetect fallback — used by BOTH the loaders and the
    * governance report ([[sourceResolutions]]), so the audit log can never
    * drift from what the pipeline actually resolved.
    */
  private final case class Resolved(frame: DataFrame,
      mapping: Map[String, Option[String]], autodetectedUrl: Option[String])

  /** How one source's headers resolve: the canonical columns it wants,
    * whether its headers are trimmed, and whether the GA4 url renames apply. */
  private final case class Role(wanted: Seq[String], trimHeaders: Boolean, ga4Renames: Boolean)
  private val FrogRole = Role(FrogColumns, trimHeaders = false, ga4Renames = false)
  private val GscRole = Role(GscColumns, trimHeaders = true, ga4Renames = false)
  private val Ga4Role = Role(Ga4Columns, trimHeaders = true, ga4Renames = true)

  private def resolveHeaders(raw0: DataFrame, role: Role): Resolved = {
    val trimmed = if (role.trimHeaders) raw0.toDF(raw0.columns.map(_.trim): _*) else raw0
    // GA4 hard-coded URL header renames (first hit, only if url absent)
    val renamed =
      if (!role.ga4Renames || trimmed.columns.contains("url")) trimmed
      else SchemaResolve.Ga4UrlRenames.find(trimmed.columns.contains) match {
        case Some(k) => trimmed.withColumnRenamed(k, "url")
        case None => trimmed
      }
    val base = SchemaResolve.resolveColumns(renamed.columns, role.wanted)
    val auto =
      if (base.get("url").flatten.isDefined) None
      else SchemaResolve.autodetectUrlColumn(renamed)
    Resolved(renamed, if (auto.isDefined) base + ("url" -> auto) else base, auto)
  }

  /** Screaming Frog loader (`etl_merge.py:527-544`): crawl spine columns,
    * int coercions, normalized urls.
    */
  def loadFrog(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    loadFrogFrom(Sources.loadTable(spark, cfg.frogPath), cfg)

  /** Frog transforms over an already-loaded raw frame — lets callers (the
    * bench's phase breakdown, tests) substitute a parquet-staged raw read
    * for the robust CSV scan while keeping the plan identical.
    */
  def loadFrogFrom(raw: DataFrame, cfg: PipelineConfig): DataFrame =
    frogFrom(resolveHeaders(raw, FrogRole), cfg)

  private def frogFrom(r: Resolved, cfg: PipelineConfig): DataFrame = {
    val out = SchemaResolve.coalesceToCanonical(r.frame, r.mapping, FrogColumns)
    Columns.put(out, ("url" -> urlNorm(cfg)(col("url"))) +:
      Seq("status_code", "click_depth", "inlinks", "word_count").map(c => c -> NumOps.toLong(col(c))))
  }

  /** GSC loader (`etl_merge.py:547-574`): url-likeness filter, no-comma
    * numeric parses, data-dependent CTR normalization.
    */
  def loadGsc(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    loadGscFrom(Sources.loadTable(spark, cfg.gscPath), cfg)

  /** GSC transforms over an already-loaded raw frame — the reuse point for
    * the streaming visibility loop ([[graft.streaming.VisibilityLoop]]),
    * whose accumulated drop state enters here instead of a CSV path. The
    * data-dependent CTR normalization stays lazy (decision aggregate,
    * broadcast back), so it re-decides over whatever corpus the frame
    * holds — exactly the batch semantics.
    */
  def loadGscFrom(raw: DataFrame, cfg: PipelineConfig): DataFrame = {
    // the normalized ctr replaces the raw one, last (url, clicks,
    // impressions, position, ctr)
    CtrNormalize(gscTyped(resolveHeaders(raw, GscRole), cfg), "ctr", "ctr_norm").select(
      GscColumns.filterNot(_ == "ctr").map(col) :+ col("ctr_norm").as("ctr"): _*)
  }

  /** GSC rows with typed metrics and the raw `ctr` text. The merge reads
    * these: [[aggGsc]] recomputes ctr from the clicks and impressions
    * sums, so the normalized ctr (and its decision job) would go unused. */
  private def gscTyped(r: Resolved, cfg: PipelineConfig): DataFrame = {
    val out = SchemaResolve.coalesceToCanonical(r.frame, r.mapping, GscColumns)
      .filter(SchemaResolve.looksUrlLike(col("url")))
    Columns.put(out, ("url" -> urlNorm(cfg)(col("url"))) +:
      Seq("clicks", "impressions", "position").map(c => c -> NumOps.toDoubleNoComma(col(c))))
  }

  /** GA4 loader (`etl_merge.py:603-653`): robust re-parse, URL header
    * renames, junk-marker anti-filter, numeric coercion.
    */
  def loadGa4(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    loadGa4From(Sources.loadTable(spark, cfg.ga4Path), cfg)

  /** GA4 transforms over an already-loaded raw frame (see [[loadFrogFrom]]). */
  def loadGa4From(raw: DataFrame, cfg: PipelineConfig): DataFrame =
    ga4From(resolveHeaders(raw, Ga4Role), cfg)

  private def ga4From(r: Resolved, cfg: PipelineConfig): DataFrame = {
    val junk = Seq("(not set)", "(other)", "other", "not set")
    val out = SchemaResolve.coalesceToCanonical(r.frame, r.mapping, Ga4Columns)
      .withColumn("url", trim(col("url")))
      .filter(SchemaResolve.looksUrlLike(col("url")) && !lower(col("url")).isin(junk: _*))
    Columns.put(out, ("url" -> urlNorm(cfg)(col("url"))) +:
      Seq("users", "sessions", "engaged_sessions", "avg_engagement_time")
        .map(c => c -> NumOps.toDouble(col(c))))
  }

  /** Per-source schema-resolution report — the governance metadata the
    * reference emits via `log_field_summary` (`etl_merge.py:314-317`) and
    * `write_autodetect_log` (`etl_merge.py:222-247`). Runs the SAME
    * [[resolveHeaders]] step as the loaders, over the same staged read:
    * each source is parsed once ([[staged]]), that parse's count is `rows`
    * (-1 unless asked), and the staged frame stays in the memo for the
    * next [[run]] or [[merged]] over the same files, which parses nothing
    * again and does not repeat the url sniff. A report that no run
    * follows keeps its staged blocks until a run over the same files takes
    * them, the files change, or [[GraftSession.release]].
    */
  final case class SourceResolution(source: String,
      mapping: Map[String, Option[String]], autodetectedUrl: Option[String], rows: Long)

  def sourceResolutions(spark: SparkSession, cfg: PipelineConfig,
      countRows: Boolean = false): Seq[SourceResolution] = {
    def one(name: String, path: String, role: Role): SourceResolution = {
      val s = staged(spark, path, take = false)
      val r = s.resolve(role)
      SourceResolution(name, r.mapping, r.autodetectedUrl, if (countRows) s.rows else -1L)
    }
    Seq(one("frog", cfg.frogPath, FrogRole), one("gsc", cfg.gscPath, GscRole),
      one("ga4", cfg.ga4Path, Ga4Role))
  }

  /** One source's robust read, parsed once and held in block storage
    * ([[Ckpt.counted]]), with the row count of that parse and each role's
    * header resolution (the url sniff is a job, so it runs once per
    * staged frame). Valid while its blocks are resident.
    */
  private final class Staged(val frame: DataFrame, val rows: Long, val fingerprint: String) {
    private val stored = Ckpt.stored(frame)
    private val resolutions = TrieMap.empty[Role, Resolved]
    def resolve(role: Role): Resolved = resolutions.getOrElseUpdate(role, resolveHeaders(frame, role))
    def live: Boolean =
      !stored.context.isStopped && stored.context.getPersistentRDDs.contains(stored.id)
    def release(): Unit = stored.unpersist(blocking = false)
  }

  /** (context, absolute path) → the staged read of that file. */
  private val stagedMemo = TrieMap.empty[(SparkContext, String), Staged]

  /** The staged read of `path`, keyed like [[graft.core.SchemaMemo]]: the
    * memo's entry while the file keeps its [[StagedMemo.fingerprint]] and
    * the entry's blocks are resident, else a fresh parse. `take` removes
    * the entry, so the caller owns the frame and no later caller can have
    * its blocks released under it; a fresh parse is then not memoized.
    * Otherwise a fresh parse replaces the entry for the next caller (a
    * replaced entry's blocks go with the ContextCleaner once unreachable).
    * Entries whose blocks are gone are dropped on every call.
    */
  private def staged(spark: SparkSession, path: String, take: Boolean): Staged = {
    val f = new java.io.File(path).getAbsoluteFile
    val fp = StagedMemo.fingerprint(f)
    val key = (spark.sparkContext, f.getPath)
    stagedMemo.foreach { case (k, s) => if (!s.live) stagedMemo.remove(k, s) }
    val hit = (if (take) stagedMemo.remove(key) else stagedMemo.get(key))
      .filter(s => s.fingerprint == fp && s.live)
    hit.getOrElse {
      val (frame, rows) = Ckpt.counted(Sources.loadTable(spark, path))
      val s = new Staged(frame, rows, fp)
      if (!take) stagedMemo.put(key, s)
      s
    }
  }

  /** GSC per-URL aggregation (`_agg_gsc`, SURVEY §2 E1-E3): sums,
    * impressions-weighted mean position with neutral weight 1.0, ctr
    * recompute — one pass, no self-join.
    */
  def aggGsc(gsc: DataFrame): DataFrame = {
    val w = when(coalesce(col("impressions"), lit(0.0)) > 0, col("impressions")).otherwise(1.0)
    val rolled = gsc.select(col("url"), col("clicks"), col("impressions"), col("position"), w.as("w"),
      (col("position") * w).as("pxw"))
      .groupBy("url")
      .agg(
        PandasCompat.sumZero(col("clicks")).as("clicks"),
        PandasCompat.sumZero(col("impressions")).as("impressions"),
        sum(col("pxw")).as("pxw"), sum(col("w")).as("wsum"))
    Columns.put(rolled, Seq(
      "position" -> when(col("wsum") > 0, col("pxw") / col("wsum")),
      "ctr" -> PandasCompat.divNull(col("clicks"), col("impressions"))),
      drop = Set("pxw", "wsum"))
  }

  /** GA4 per-URL aggregation (`_agg_ga4`, E4): sum all numeric metrics. */
  def aggGa4(ga4: DataFrame): DataFrame = {
    val metrics = ga4.columns.filterNot(_ == "url")
    ga4.groupBy("url").agg(
      PandasCompat.sumZero(col(metrics.head)).as(metrics.head),
      metrics.tail.map(c => PandasCompat.sumZero(col(c)).as(c)): _*)
  }

  /** Keep-first spine dedup: first file-order row per url via the read-order
    * surrogate (monotonically_increasing_id captured at load — partition-
    * ordered, hence file-ordered for a single CSV read; SURVEY §4.3 D1).
    */
  def dedupSpine(frog: DataFrame): DataFrame = firstPerUrl(frog).drop(SpineOrd)

  /** [[dedupSpine]] keeping the kept row's read-order surrogate as
    * [[SpineOrd]]: the first-occurrence ordinal of its url. */
  private def firstPerUrl(frog: DataFrame): DataFrame = {
    val byOrder = Window.partitionBy(col("url")).orderBy(col(SpineOrd))
    frog.withColumn(SpineOrd, monotonically_increasing_id())
      .withColumn("__rn", row_number().over(byOrder))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The output row-order column of [[spineOrder]]. */
  private val SpineOrd = "__spine_ord"

  /** The median of the merged frame's (rounded) `ctr`, which the debug
    * slice's scoring falls back on. */
  private val DebugMedian = "__debug_ctr_median"

  /** Columns the reference holds as int64 unless a merge introduced NaN
    * (`to_int` coercions and integer sums, etl_merge.py load/agg steps) —
    * the CSV sink's dynamic-dtype hint for byte parity (SURVEY §2 A5).
    */
  val IntLineageColumns: Set[String] =
    Set("clicks", "impressions", "users", "sessions", "engaged_sessions")

  /** The reference's OUTPUT row order, as a joinable (url, __spine_ord)
    * frame: pandas' left merges preserve the frog spine's file order
    * (first occurrence per url — `etl_merge.py:760-762` dedup +
    * left-merge chain), an order Spark's shuffling joins do not keep.
    * The formatted CSV sink re-imposes it for byte parity with
    * `merged_visibility.csv`. Same read-order surrogate as
    * [[dedupSpine]].
    *
    * After a [[run]] with the same frog file and url settings, while the
    * caller still holds the frame `run` returned, this plans over that
    * frame's checkpoint, which carries the ordinal: no read of Frog at all.
    * The lookup holds the checkpoint weakly, so it never keeps it alive
    * after the caller drops it. Otherwise Frog is loaded and normalized
    * again, and each url's first read-order ordinal is aggregated.
    */
  def spineOrder(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    Option(lastRuns.get(spineKey(spark, cfg))).flatMap(r => Option(r.get)) match {
      case Some(ck) => CacheBridge.frameOf(spark, ck).select(col("url"), col(SpineOrd))
      case None => loadFrog(spark, cfg)
        .filter(col("url").isNotNull && length(col("url")) > 0)
        .withColumn(SpineOrd, monotonically_increasing_id())
        .groupBy(col("url")).agg(min(col(SpineOrd)).as(SpineOrd))
    }

  /** What the spine order of a run depends on: the context, the frog
    * file's identity, and the url settings. */
  private def spineKey(spark: SparkSession, cfg: PipelineConfig) = {
    val f = new java.io.File(cfg.frogPath).getAbsoluteFile
    (spark.sparkContext, f.getPath, StagedMemo.fingerprint(f), cfg.siteBase, cfg.stripAllParams)
  }

  /** [[spineKey]] → the stored plan of the last [[run]]'s checkpoint,
    * weakly: it is reachable only through the frame `run` returned. */
  private val lastRuns = new java.util.concurrent.ConcurrentHashMap[
    (SparkContext, String, String, String, Boolean), java.lang.ref.WeakReference[LogicalPlan]]()

  /** Full merged frame (stages 5-11 of SURVEY §3.1). Stage row counts
    * (SURVEY §2 E8 — the reference logs len(df) per stage) ride along as
    * `observe` metrics: zero extra jobs, readable from the returned frame's
    * listener/observation API after any action. Reads each source's staged
    * parse: the one a [[sourceResolutions]] report left in the memo (taken
    * out of it), else a fresh one; the returned frame holds those blocks
    * until it is dropped.
    */
  def merged(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    mergedStaged(spark, cfg, forRun = false)._1

  /** The merge over the three staged sources, and those stagings. */
  private def mergedStaged(spark: SparkSession, cfg: PipelineConfig,
      forRun: Boolean): (DataFrame, Seq[Staged]) = {
    val sources = Seq(cfg.frogPath, cfg.gscPath, cfg.ga4Path).map(staged(spark, _, take = true))
    val Seq(frog, gsc, ga4) = sources
    (mergedCore(cfg, frogFrom(frog.resolve(FrogRole), cfg), gscTyped(gsc.resolve(GscRole), cfg),
      ga4From(ga4.resolve(Ga4Role), cfg), forRun), sources)
  }

  /** [[merged]] over already-loaded source frames — the reuse point for the
    * streaming visibility loop, which substitutes its accumulated GSC drop
    * state for the batch CSV read while keeping every downstream stage
    * byte-identical.
    */
  def mergedFrom(spark: SparkSession, cfg: PipelineConfig, frogIn: DataFrame,
      gscIn: DataFrame, ga4In: DataFrame): DataFrame =
    mergedCore(cfg, frogIn, gscIn, ga4In, forRun = false)

  /** The merge; `forRun` appends what [[run]] reads beside the output
    * columns: [[SpineOrd]], and [[DebugMedian]] from the merge's one
    * scalar aggregate (the debug slice would otherwise aggregate the
    * rounded ctr in a job of its own). */
  private def mergedCore(cfg: PipelineConfig, frogIn: DataFrame, gscIn: DataFrame,
      ga4In: DataFrame, forRun: Boolean): DataFrame = {
    val spine = firstPerUrl(frogIn.filter(col("url").isNotNull && length(col("url")) > 0))
    val frog = (if (forRun) spine else spine.drop(SpineOrd))
      .observe("frog_spine", count(lit(1)).as("rows"))
    val gsc = aggGsc(gscIn.filter(col("url").isNotNull && length(col("url")) > 0))
      .observe("gsc_agg", count(lit(1)).as("rows"))
    val ga4 = aggGa4(ga4In.filter(col("url").isNotNull && length(col("url")) > 0))
      .observe("ga4_agg", count(lit(1)).as("rows"))

    // persisted: the scalar branch below would otherwise re-execute the
    // whole 3-source load + join. Scoped: once the consuming action
    // completes (in Pipeline.run, the checkpoint of the merged frame), this
    // cache is dead weight, so it is released automatically.
    val joined = frog.join(gsc, Seq("url"), "left").join(ga4, Seq("url"), "left")
      .observe("merged", count(lit(1)).as("rows"))
      .transform(CacheScope.scoped)

    // the click total (click_share, F6/F7/E5) and the ctr median (the
    // expected-ctr fallback, stage 9) as ONE 1-row aggregate, broadcast
    // back (never a partition-less window); the derived columns leave ctr
    // as it is, so its median over `joined` is the median over the rows
    // scored below, and the median of its 4-place rounding is the median
    // of the output's ctr
    val scalars = joined.agg(sum(col("clicks")).as("__total_clicks"),
      percentile(col("ctr"), lit(0.5)).as("__ctr_median") +:
      (if (forRun) Seq(percentile(PandasCompat.broundN(col("ctr"), 4), lit(0.5)).as(DebugMedian))
       else Nil): _*)
    val withScalars = joined.crossJoin(broadcast(scalars))

    // derived metrics (null-guarded division), scoring on ALL rows
    // (expected ctr with dataset-median fallback, deficit, intent, missed
    // clicks) and run metadata (F13): one projection per dependency level
    val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(cfg.runTimestamp))
    val level1 = Columns.put(withScalars, Seq(
      "ctr_pct" -> col("ctr") * 100,
      "engagement_rate" -> PandasCompat.divNull(col("engaged_sessions"), col("sessions")),
      "click_share" -> when(coalesce(col("__total_clicks"), lit(0.0)) === 0.0, lit(0.0))
        .otherwise(col("clicks") / col("__total_clicks")),
      "expected_ctr" -> Scoring.expectedCtr(cfg.scoring, col("position"), col("__ctr_median")),
      "expected_ctr_bucket" -> Scoring.expectedCtrBucket(cfg.scoring, col("position")),
      "expected_ctr_units" -> lit(cfg.scoring.units),
      "expected_ctr_uplift" -> lit(cfg.scoring.uplift),
      "intent_multiplier" -> Scoring.intentMultiplier(cfg.scoring, col("url"), col("schema_types")),
      "run_id" -> lit(cfg.runId),
      "run_timestamp" -> lit(cfg.runTimestamp),
      // rendered on the driver in explicit UTC: date_format would follow
      // the session timezone while still claiming 'Z'
      "run_timestamp_iso" -> lit(iso),
      "source_frog" -> lit(basename(cfg.frogPath)),
      "source_gsc" -> lit(basename(cfg.gscPath)),
      "source_ga4" -> lit(basename(cfg.ga4Path))),
      drop = Set("__total_clicks", "__ctr_median"))
    val level2 = Columns.put(level1, Seq(
      "engagement_rate_pct" -> col("engagement_rate") * 100,
      "ctr_deficit" -> Scoring.ctrDeficit(cfg.scoring, col("expected_ctr"), col("ctr"))))
    val scored = Columns.put(level2, Seq("missed_clicks" ->
      Scoring.missedClicks(col("ctr_deficit"), col("impressions"), col("intent_multiplier"))))

    // rounding suite (F12, banker's per pandas) over the unrounded values,
    // in the preferred output order; missed_clicks_eff is missed_clicks
    val rounding = Map("ctr" -> 4, "ctr_pct" -> 2, "position" -> 1,
      "engagement_rate" -> 4, "engagement_rate_pct" -> 1, "click_share" -> 6,
      "expected_ctr" -> 4, "ctr_deficit" -> 4, "intent_multiplier" -> 2,
      "missed_clicks" -> 3)
    scored.select(ColumnOrder.map {
      case "missed_clicks_eff" => PandasCompat.broundN(col("missed_clicks"), 3).as("missed_clicks_eff")
      case c @ "avg_engagement_time" => bround(col(c), 0).cast("long").as(c)
      case c => rounding.get(c).fold(col(c))(n => PandasCompat.broundN(col(c), n).as(c))
    } ++ (if (forRun) Seq(col(SpineOrd), col(DebugMedian)) else Nil): _*)
  }

  /** Preferred output column order (`etl_merge.py:888-894`). */
  val ColumnOrder: Seq[String] = Seq(
    "url", "status_code", "title", "meta_description", "word_count", "click_depth",
    "inlinks", "schema_types", "clicks", "impressions", "ctr", "ctr_pct", "position",
    "expected_ctr", "expected_ctr_bucket", "expected_ctr_units", "expected_ctr_uplift",
    "ctr_deficit", "intent_multiplier", "missed_clicks", "missed_clicks_eff",
    "users", "sessions", "engaged_sessions", "engagement_rate", "engagement_rate_pct",
    "avg_engagement_time", "click_share",
    "run_id", "run_timestamp", "run_timestamp_iso", "source_frog", "source_gsc", "source_ga4")

  /** Anomaly/triage slice over the merged frame (stage 13, SURVEY §3.3):
    * same parameterized transform as the q11 oracle query.
    */
  def anomalySlice(mergedDf: DataFrame, cfg: PipelineConfig): DataFrame =
    Scoring.anomalyTriage(triageInput(mergedDf), cfg.scoring)

  /** Debug slice (`ctr_debug.csv`, `etl_merge.py:945-952`): the FULL scored
    * candidate set — pre `missed_clicks > 0` filter — for triaging scoring
    * behavior. Like the reference, it re-scores the FINAL (rounded) merged
    * frame, keeps every merged column, and surfaces the debug columns first
    * (`debug_cols_first`, `etl_merge.py:947-949`).
    */
  def ctrDebugSlice(mergedDf: DataFrame, cfg: PipelineConfig): DataFrame =
    debugFirst(Scoring.scoredCandidates(mergedDf, cfg.scoring))

  private def debugFirst(scored: DataFrame): DataFrame = {
    val first = Seq("url", "position", "ctr", "impressions", "expected_ctr",
      "expected_ctr_bucket", "expected_ctr_units", "expected_ctr_uplift",
      "ctr_deficit", "intent_multiplier", "missed_clicks").filter(scored.columns.contains)
    val rest = scored.columns.filterNot(first.contains)
    scored.select((first ++ rest).map(col): _*)
  }

  private def triageInput(mergedDf: DataFrame): DataFrame =
    mergedDf.select(col("url"), col("position"), col("ctr"), col("impressions"),
      col("clicks"), col("schema_types"))

  /** Schema-gap slice (C6): rows whose schema_types is null/blank. */
  def schemaGaps(mergedDf: DataFrame): DataFrame =
    mergedDf.filter(col("schema_types").isNull || trim(col("schema_types")) === "")

  /** Run the full pipeline and write outputs (parquet canonical; stage 12/
    * 13/15 sinks). Returns the merged frame for further composition.
    * Scoring runs ONCE: the anomaly sink is the debug frame's
    * underperformers-only continuation (same scored columns, narrow triage
    * projection, keep-filter + rank) — not a second scoring pass.
    *
    * Each source is parsed once per run: the merge reads the staged parse
    * a [[sourceResolutions]] report left (see [[staged]]), else stages its
    * own. The merged frame, with the spine's read-order ordinal beside its
    * [[ColumnOrder]] columns, is materialized once with [[Ckpt.eager]], and
    * the staged sources are then released: nothing reads them again. The
    * four sinks and every later action plan over that one leaf node
    * instead of re-planning the whole merge (fewer jobs, and fewer
    * generated classes for Spark's codegen cache to hold), the debug
    * slice's scoring reads its ctr median from the merge's scalar
    * aggregate, and [[spineOrder]] reads the ordinal from the checkpoint
    * while the returned frame is held. The RETURNED frame is the
    * [[ColumnOrder]] projection of that checkpoint: `unpersist()` does not
    * free it; [[GraftSession.release]] does, and so does the ContextCleaner
    * once the frame is unreachable. With `graft.checkpoint.dir` set it is a
    * reliable checkpoint in that dir. The debug frame's cache and the
    * merge's inner cache release themselves ([[CacheScope]]) after their
    * last consuming action.
    */
  def run(spark: SparkSession, cfg: PipelineConfig, outDir: String): DataFrame = {
    val (extended, sources) = mergedStaged(spark, cfg, forRun = true)
    val ck = extended.transform(Ckpt.eager)
    sources.foreach(_.release())
    val m = ck.select(ColumnOrder.map(col): _*)
    lastRuns.values.removeIf(_.get == null)
    lastRuns.put(spineKey(spark, cfg),
      new java.lang.ref.WeakReference(m.queryExecution.logical.collectLeaves().head))
    // partitioned by run_id (SURVEY §4.4); dynamic overwrite so a re-run
    // replaces only ITS OWN partition and earlier runs' partitions survive
    m.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_id").parquet(s"$outDir/merged_visibility")
    // read by the next two sinks, then released
    val debug = CacheScope.scopedN(debugFirst(Scoring.scoredWithMedian(
      ck.select(ColumnOrder.map(col) :+ col(DebugMedian).as("ctr_median"): _*), cfg.scoring)), 2)
    debug.write.mode("overwrite").parquet(s"$outDir/ctr_debug")
    val triageCols = Seq("url", "position", "ctr", "impressions", "clicks",
      "schema_types", "expected_ctr", "expected_ctr_bucket", "ctr_deficit",
      "intent_multiplier", "missed_clicks")
    Scoring.rankUnderperformers(debug.select(triageCols.map(col): _*), cfg.scoring)
      .write.mode("overwrite").parquet(s"$outDir/anomaly_ctr_underperf")
    schemaGaps(m).write.mode("overwrite").parquet(s"$outDir/schema_gaps")
    m
  }

  private def basename(p: String): String = new java.io.File(p).getName
}
