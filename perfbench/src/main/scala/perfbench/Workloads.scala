package perfbench

import java.nio.file.{Files, Path}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Pipeline, SparkEntry, Verify}
import graft.ingest.Sources
import graft.sinks.Outputs

/** Outcome of one operation (a query, or a pipeline sink) in a pass. */
final case class Outcome(op: String, error: Option[String])

/** A named workload. [[pass]] is the timed unit; [[check]] verifies the
  * pass's outputs afterwards, outside the timed window. */
abstract class Workload(val name: String) {
  /** Operations one pass attempts; `failed` counts them, not exceptions. */
  def ops: Seq[String]
  /** Builds the inputs; called several times during setup. */
  def stage(): Unit
  /** The discarded warm pass; it also runs the full output check. */
  def warm(): Seq[Outcome]
  def pass(t: Trace): Unit
  def check(): Seq[Outcome]
  /** Result rows one pass produces (the useful output). */
  def outRows: Long
  /** Resets state between passes (untimed). */
  def clean(): Unit = ()
  /** Workload-specific per-layer counters from a traced pass. */
  def layers(t: Tracer, pass: Int): Seq[(String, Double, String)]

  private val thrown = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Runs one operation; an exception is recorded as that op's failure. */
  protected def op(label: String)(body: => Unit): Unit =
    try body catch { case NonFatal(e) => thrown(label) = s"threw ${e.getClass.getSimpleName}: ${e.getMessage}" }

  /** Exceptions recorded since the last call, as outcomes. */
  def takeThrown(): Seq[Outcome] = {
    val out = thrown.toSeq.map { case (o, m) => Outcome(o, Some(m)) }
    thrown.clear()
    out
  }

  /** Compares a measured value (computed by `got`) with the expected one;
    * a check that throws fails its operation too. */
  protected def expect(op: String, what: String, got: => Any, want: Any): Outcome =
    try {
      val g = got
      Outcome(op, if (g == want) None else Some(s"$what: got $g, want $want"))
    } catch { case NonFatal(e) => Outcome(op, Some(s"$what: threw $e")) }

  protected def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally w.close()
  }

  protected def spanSeconds(t: Tracer, pass: Int, name: String): Double =
    t.spansOf(pass).filter(_.name == name).map(_.seconds).sum
}

/** Registry queries into the `noop` sink; outputs checked against pinned
  * digests. The seed only permutes the query order. */
final class RegistryWorkload(name: String, spark: SparkSession, queries: Seq[String],
    dir: String, pinned: Map[String, (String, Long)], seed: Long) extends Workload(name) {

  private val order = new scala.util.Random(seed).shuffle(queries)
  def ops: Seq[String] = order
  def stage(): Unit = require(Files.isDirectory(java.nio.file.Paths.get(dir)), s"no data dir $dir")
  def outRows: Long = queries.map(q => pinned.get(q).fold(0L)(_._2)).sum

  /** Computes each query's canonical digest the way `Verify` does. */
  def warm(): Seq[Outcome] = order.map { q =>
    try {
      val got = Verify.digest(SparkEntry.queries(q)(spark, dir))
      pinned.get(q) match {
        case None => Outcome(q, Some("no pinned digest"))
        case Some(want) => expect(q, "digest", got, want)
      }
    } catch { case NonFatal(e) => Outcome(q, Some(s"threw $e")) }
  }

  def pass(t: Trace): Unit = order.foreach { q =>
    op(q) {
      t.span(s"queries.$q") {
        val df = t.span("plan") {
          val df = SparkEntry.queries(q)(spark, dir)
          if (t.on) df.queryExecution.executedPlan
          df
        }
        t.span("exec")(df.write.format("noop").mode("overwrite").save())
      }
    }
  }

  def check(): Seq[Outcome] = Nil

  def layers(t: Tracer, pass: Int): Seq[(String, Double, String)] = {
    val of = t.spansOf(pass)
    order.sorted.flatMap { q =>
      of.find(_.name == s"queries.$q").toSeq.flatMap { s =>
        val w = t.workIn(s.id, descendants = true, of)
        Seq((s"queries.${q}_s", s.seconds, "s"), (s"queries.$q.jobs", w.jobs.toDouble, "count"),
          (s"queries.$q.shuffle_records", w.shuffleRecords.toDouble, "count"),
          (s"queries.$q.spill_mb", w.spillBytes / Runner.MiB, "MiB"))
      }
    }
  }
}

/** The paper's job, as `PipelineDemo`'s YAML mode runs it, over seeded
  * dirty exports. */
final class VisibilityMergeWorkload(spark: SparkSession, work: Path, seed: Long, rows: Int,
    expected: DirtyExports.Planted => DirtyExports.Planted = identity)
    extends Workload("visibility_merge") {

  private val inputDir = work.resolve("inputs")
  private val outDir = work.resolve("out").toString
  private var planted: DirtyExports.Planted = _
  private var cfg: Pipeline.PipelineConfig = _
  private var csvRel = ""
  // state a pass leaves for its check
  private var resolvedRows = Map.empty[String, Long]
  private var merged: DataFrame = _
  private var mergedRows = -1L
  // counters a traced pass leaves for the layer table
  private var traced = Map.empty[String, Double]

  private val sinks = Seq("merged_visibility", "ctr_debug", "anomaly_ctr_underperf", "schema_gaps")
  def ops: Seq[String] = Seq("ingest.resolve") ++ sinks.map("sinks." + _) ++
    Seq("sinks.csv", "sinks.run_log")
  def outRows: Long = planted.spineKeys

  def stage(): Unit = {
    val (files, p) = DirtyExports.write(inputDir, seed, rows)
    planted = expected(p)
    val yaml =
      s"""inputs:
         |  screaming_frog_csv: ${files.frog}
         |  gsc_csv: ${files.gsc}
         |  ga4_csv: ${files.ga4}
         |output:
         |  merged_csv: merged/merged_visibility.csv
         |scoring:
         |  expected_ctr_by_position:
         |    "1": 0.32
         |    "2": 0.16
         |    "3": 0.1
         |    "4-5": 0.07
         |    "6-10": 0.03
         |  max_position_for_ctr_eval: 20
         |  intent_multipliers:
         |    transactional: 1.5
         |    informational: 0.9
         |thresholds:
         |  ctr_underperf_margin: 0.002
         |mappings:
         |  url_intent_hints:
         |    /products/: transactional
         |    /blogs/: informational
         |""".stripMargin
    cfg = Pipeline.configFromYaml(yaml,
      Map("SITE_BASE" -> DirtyExports.Site, "RUN_ID" -> s"bench_$seed"),
      inputDir.resolve("data_demo").toString, runTimestamp = 1760000000L)
    csvRel = graft.ingest.YamlConfig.mergedCsvPath(yaml)
  }

  private def sources = Seq("frog" -> cfg.frogPath, "gsc" -> cfg.gscPath, "ga4" -> cfg.ga4Path)
  private def nonEmptyUrl(df: DataFrame) = df.filter(col("url").isNotNull && length(col("url")) > 0)

  def pass(t: Trace): Unit = {
    op("ingest.resolve") {
      t.span("ingest.resolve") {
        val rs = Pipeline.sourceResolutions(spark, cfg, countRows = true)
        val now = java.time.Instant.ofEpochSecond(cfg.runTimestamp).toString
        rs.foreach(r => Outputs.appendAutodetectLog(s"$outDir/logs/etl_autodetect.csv", now,
          r.source, r.rows, r.autodetectedUrl, r.mapping))
        resolvedRows = rs.map(r => r.source -> r.rows).toMap
      }
    }
    if (t.on) tracedBoundaries(t)
    op("sinks.merged_visibility") {
      t.span("Pipeline.run") {
        merged = Pipeline.run(spark, cfg, outDir)
        mergedRows = merged.count()
      }
    }
    op("sinks.csv") {
      t.span("sinks.csv") {
        val ordered = t.span("plan") {
          val df = merged.join(Pipeline.spineOrder(spark, cfg), Seq("url"), "left")
          if (t.on) df.queryExecution.executedPlan
          df
        }
        t.span("exec")(Outputs.writeCsvFormatted(ordered, s"$outDir/$csvRel",
          orderBy = Seq(col("__spine_ord")), intLineage = Pipeline.IntLineageColumns))
      }
    }
    op("sinks.run_log") {
      t.span("sinks.run_log")(Outputs.appendRunLog(s"$outDir/logs/runs.csv", cfg.runId,
        cfg.runTimestamp, mergedRows, cfg.frogPath, cfg.gscPath, cfg.ga4Path,
        s"$outDir/merged_visibility"))
    }
  }

  /** The stage boundaries `Pipeline.run` crosses internally, materialized
    * one by one through the pipeline's public stage functions, so each
    * layer gets its own span and row counts. Traced passes only. */
  private def tracedBoundaries(t: Trace): Unit = {
    def timedCount(df: => DataFrame): Long = {
      val d = t.span("plan") { val d = df; d.queryExecution.executedPlan; d }
      t.span("exec")(d.count())
    }
    val raw = t.span("ingest.scan") {
      sources.map { case (s, p) => s -> timedCount(Sources.loadTable(spark, p)) }.toMap
    }
    val (frog, gsc, ga4, kept) = t.span("Pipeline.normalize") {
      val frog = nonEmptyUrl(Pipeline.loadFrogFrom(Sources.loadTable(spark, cfg.frogPath), cfg))
      val gsc = Pipeline.loadGscFrom(Sources.loadTable(spark, cfg.gscPath), cfg)
      val ga4 = Pipeline.loadGa4From(Sources.loadTable(spark, cfg.ga4Path), cfg)
      (frog, gsc, ga4, Seq(timedCount(frog), timedCount(gsc), timedCount(ga4)))
    }
    val rolled = t.span("Pipeline.rollup") {
      Seq(timedCount(Pipeline.dedupSpine(frog)), timedCount(Pipeline.aggGsc(gsc)),
        timedCount(Pipeline.aggGa4(ga4)))
    }
    traced = Map(
      "ingest.rows" -> raw.values.sum.toDouble,
      "Pipeline.rows_dropped" -> (raw.values.sum - kept.sum).toDouble,
      "Pipeline.spine_dup_rows" -> (kept.head - rolled.head).toDouble)
  }

  private def countsOf(m: DataFrame): (Long, Long, Long) = {
    val r = m.agg(count(col("impressions")), count(col("sessions")),
      coalesce(sum(col("clicks")), lit(0.0))).head()
    (r.getLong(0), r.getLong(1), r.getDouble(2).toLong)
  }

  /** Every canonical column of every export resolves to one of its
    * headers, and each loader's plan analyzes. */
  def resolveCheck(): Seq[Outcome] = {
    val unresolved = Pipeline.sourceResolutions(spark, cfg).flatMap { r =>
      r.mapping.collect { case (k, None) => s"${r.source}.$k" }
    }
    Seq(expect("ingest.resolve", "unresolved columns", unresolved, Nil),
      expect("ingest.resolve", "loader columns", Seq(Pipeline.loadFrog(spark, cfg),
        Pipeline.loadGsc(spark, cfg), Pipeline.loadGa4(spark, cfg)).map(_.schema.size),
        Seq(Pipeline.FrogColumns, Pipeline.GscColumns, Pipeline.Ga4Columns).map(_.size)))
  }

  def warm(): Seq[Outcome] = {
    pass(Trace.Off)
    val p = planted
    takeThrown() ++ check() ++ resolveCheck() ++ Seq(
      expect("ingest.resolve", "frog rows kept by the empty-url filter",
        nonEmptyUrl(Pipeline.loadFrog(spark, cfg)).count(), p.frogRows - p.frogEmpty),
      expect("ingest.resolve", "gsc rows kept by the url filter",
        Pipeline.loadGsc(spark, cfg).count(), p.gscKept),
      expect("ingest.resolve", "ga4 rows kept by the url and junk filter",
        Pipeline.loadGa4(spark, cfg).count(), p.ga4Kept))
  }

  /** Removes the previous pass's outputs and results, so a step that fails
    * cannot pass its check on stale ones. Runs between passes, untimed. */
  override def clean(): Unit = {
    deleteTree(java.nio.file.Paths.get(outDir))
    resolvedRows = Map.empty
    merged = null
    mergedRows = -1L
  }

  def check(): Seq[Outcome] = {
    val p = planted
    def path(rel: String) = java.nio.file.Paths.get(s"$outDir/$rel")
    def parquetFiles(sink: String) = {
      val w = Files.walk(path(sink))
      try w.filter(_.getFileName.toString.endsWith(".parquet")).count() finally w.close()
    }
    val counts = scala.util.Try(countsOf(merged))
    counts.foreach { case (g, a, _) =>
      traced ++= Map("Pipeline.join_match_gsc" -> g.toDouble, "Pipeline.join_match_ga4" -> a.toDouble)
    }
    Seq(
      expect("ingest.resolve", "raw rows per source", resolvedRows,
        Map("frog" -> p.frogRows, "gsc" -> p.gscRows, "ga4" -> p.ga4Rows)),
      expect("sinks.merged_visibility", "merged rows (spine keys)", mergedRows, p.spineKeys),
      expect("sinks.merged_visibility", "gsc join matches", counts.get._1, p.joinMatchGsc),
      expect("sinks.merged_visibility", "ga4 join matches", counts.get._2, p.joinMatchGa4),
      expect("sinks.merged_visibility", "total clicks", counts.get._3, p.totalClicks),
      expect("sinks.merged_visibility", "merged_visibility rows read back",
        spark.read.parquet(path("merged_visibility").toString).count(), p.spineKeys),
      expect("sinks.csv", "csv data rows", {
        val lines = Files.lines(path(csvRel))
        try lines.count() - 1 finally lines.close()
      }, p.spineKeys),
      expect("sinks.run_log", "run log rows_merged", {
        val all = Files.readAllLines(path("logs/runs.csv"))
        all.get(all.size - 1).split(",")(2).toLong
      }, p.spineKeys)) ++
      // clean() removed the last pass's files, so each sink wrote these now
      sinks.map(s => expect(s"sinks.$s", "parquet files written", parquetFiles(s) > 0, true))
  }

  def layers(t: Tracer, pass: Int): Seq[(String, Double, String)] = {
    val of = t.spansOf(pass)
    def work(name: String) = of.filter(_.name == name)
      .foldLeft(new Work)((acc, s) => acc.add(t.workIn(s.id, descendants = true, of)))
    val outBytes = scala.util.Try(Files.size(java.nio.file.Paths.get(s"$outDir/$csvRel")))
      .getOrElse(-1L)
    val files = scala.util.Try {
      val w = Files.walk(java.nio.file.Paths.get(outDir))
      try w.filter(Files.isRegularFile(_)).count() finally w.close()
    }.getOrElse(-1L)
    Seq(
      ("ingest.resolve_s", spanSeconds(t, pass, "ingest.resolve"), "s"),
      ("ingest.scan_s", spanSeconds(t, pass, "ingest.scan"), "s"),
      ("ingest.input_mb", work("ingest.scan").inputBytes / Runner.MiB, "MiB"),
      ("ingest.rows", traced.getOrElse("ingest.rows", -1.0), "count"),
      ("Pipeline.normalize_s", spanSeconds(t, pass, "Pipeline.normalize"), "s"),
      ("Pipeline.rows_dropped", traced.getOrElse("Pipeline.rows_dropped", -1.0), "count"),
      ("Pipeline.rollup_s", spanSeconds(t, pass, "Pipeline.rollup"), "s"),
      ("Pipeline.spine_dup_rows", traced.getOrElse("Pipeline.spine_dup_rows", -1.0), "count"),
      ("Pipeline.run_s", spanSeconds(t, pass, "Pipeline.run"), "s"),
      ("Pipeline.join_match_gsc", traced.getOrElse("Pipeline.join_match_gsc", -1.0), "count"),
      ("Pipeline.join_match_ga4", traced.getOrElse("Pipeline.join_match_ga4", -1.0), "count"),
      ("sinks.csv_s", spanSeconds(t, pass, "sinks.csv"), "s"),
      ("sinks.output_mb", outBytes / Runner.MiB, "MiB"),
      ("sinks.files", files.toDouble, "count"),
      ("planted.rows_dropped", planted.rowsDropped.toDouble, "count"),
      ("planted.spine_dup_rows", planted.spineDupRows.toDouble, "count"))
  }
}

/** The benchmark's workloads and their fixed inputs. */
object Workloads {
  /** Rows per dirty export in `visibility_merge`. */
  val MergeRows = 10000
  /** Registry workloads read this scale of the fixed seed-42 test data. */
  val RegistrySf = "sf0.01"

  /** The iterate → checkpoint → converge loops (one PageRank, one BFS). */
  val GraphQueries = Seq("q74_pagerank", "q150_bfs_hops")

  /** Set-similarity joins, sorted-neighbourhood dedup and MinHash. */
  val DedupQueries = Seq("q116_overlap_join", "q117_snm_dedup", "q464_minhash_calibration",
    "q26_jaccard_pairs")

  /** Short relational and scoring queries whose cost is per-query fixed
    * cost: planning, extension rules, table resolution, job scheduling. */
  val RelationalQueries = Seq("q01_pricing_summary", "q02_weighted_rollup", "q07_rank_topk",
    "q08_group_median", "q11_anomaly_triage", "q12_url_normalize", "q15_set_ops",
    "q16_window_analytics", "q19_join_variants", "q34_asof_join", "q41_string_funcs", "q60_cube")

  val Names = Seq("visibility_merge", "graph_fixpoint", "dedup_setsim", "relational_mix")

  /** Queries of a registry workload. */
  val Registry: Map[String, Seq[String]] = Map("graph_fixpoint" -> GraphQueries,
    "dedup_setsim" -> DedupQueries, "relational_mix" -> RelationalQueries)

  def create(name: String, spark: SparkSession, work: Path, seed: Long,
      dataDir: String, pinned: => Map[String, (String, Long)]): Workload =
    if (name == "visibility_merge") new VisibilityMergeWorkload(spark, work, seed, MergeRows)
    else new RegistryWorkload(name, spark, Registry(name), dataDir, pinned, seed)

  /** query → (sha256, rows) from a digest sidecar under `tools/`. */
  def pinnedDigests(file: String): Map[String, (String, Long)] = {
    import org.json4s._
    val json = jackson.JsonMethods.parse(new String(Files.readAllBytes(java.nio.file.Paths.get(file)),
      java.nio.charset.StandardCharsets.UTF_8))
    json match {
      case JObject(fields) => fields.collect {
        case (q, o) if (o \ "sha256").isInstanceOf[JString] =>
          val JString(sha) = o \ "sha256": @unchecked
          val rows = o \ "rows" match { case JInt(n) => n.toLong; case _ => -1L }
          q -> (sha, rows)
      }.toMap
      case _ => Map.empty
    }
  }
}
