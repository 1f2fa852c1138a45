package graft

import graft.Pipeline.PipelineConfig
import graft.ops.Scoring.{Bucket, ScoringConfig}
import graft.sinks.Outputs

/** CLI entry for the visibility merge — the engine's analogue of the
  * reference's `make run`: three CSV paths in, merged frame + slices out.
  *
  * Usage:
  *   runMain graft.PipelineDemo <frog.csv> <gsc.csv> <ga4.csv> <outDir> [siteBase]
  *   runMain graft.PipelineDemo <etl_config.yaml> <outDir>
  *
  * The YAML form is the reference's own entrypoint shape (`main`,
  * `etl_merge.py:733-765`): input paths resolve through the full A4
  * ladder (FROG_CSV_PATH-style ENV overrides → `inputs:` keys with the
  * `_xlsx` sibling and extension swap → `data_demo/` defaults relative to
  * the config file), SITE_BASE / STRIP_ALL_QUERY_PARAMS / RUN_ID read
  * from the environment, scoring from the YAML, and the merged frame
  * ALSO written as the reference's single formatted CSV at the config's
  * `output.merged_csv` path (resolved under outDir).
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val yamlMode = args.length >= 2 &&
      (args(0).endsWith(".yaml") || args(0).endsWith(".yml"))
    require(yamlMode || args.length >= 4,
      "usage: PipelineDemo <frog.csv> <gsc.csv> <ga4.csv> <outDir> [siteBase]\n" +
      "   or: PipelineDemo <etl_config.yaml> <outDir>")
    val outDir = if (yamlMode) args(1) else args(3)
    // the master URL is a deployment address, so it stays settable; the
    // shuffle width stays that of the local[4] default
    val spark = GraftSession.builder(4)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val yamlText = if (yamlMode)
      java.nio.file.Files.readString(java.nio.file.Paths.get(args(0))) else ""
    val cfg = if (yamlMode) {
      val confDir = Option(new java.io.File(args(0)).getParent).getOrElse(".")
      Pipeline.configFromYaml(yamlText, sys.env, s"$confDir/data_demo",
        runTimestamp = sys.env.get("RUN_TS").map(_.toLong)
          .getOrElse(System.currentTimeMillis() / 1000))
    } else PipelineConfig(
      frogPath = args(0), gscPath = args(1), ga4Path = args(2),
      siteBase = args.lift(4).getOrElse(""),
      scoring = ScoringConfig(
        buckets = Bucket.fromConfig(Seq(
          "1" -> 0.32, "2" -> 0.16, "3" -> 0.1, "4-5" -> 0.07, "6-10" -> 0.03)),
        margin = 0.002, maxPosition = 20.0,
        intentMultipliers = Map("transactional" -> 1.5, "informational" -> 0.9),
        urlIntentHints = Seq("/products/" -> "transactional", "/blogs/" -> "informational")),
      runId = sys.env.getOrElse("RUN_ID", "demo"),
      runTimestamp = sys.env.get("RUN_TS").map(_.toLong).getOrElse(0L))
    if (yamlMode)
      println(s"Resolved inputs → Frog: ${cfg.frogPath} | GSC: ${cfg.gscPath} | GA4: ${cfg.ga4Path}")
    // Governance (env-gated like the reference): per-source field summary
    // on stdout (`log_field_summary`, etl_merge.py:314-317), autodetect
    // audit log (etl_merge.py:222-247), run log (etl_merge.py:986-1004).
    val runLogOn = Outputs.envBool("ETL_RUN_LOG", default = true)
    val autodetectLogOn = Outputs.envBool("ETL_AUTODETECT_LOG", default = true)
    val resolutions = Pipeline.sourceResolutions(spark, cfg, countRows = autodetectLogOn)
    resolutions.foreach { r =>
      val mapped = r.mapping.collect { case (k, Some(_)) => k }.toSeq.sorted
      val missing = r.mapping.collect { case (k, None) => k }.toSeq.sorted
      println(s"[merge] ${r.source}: mapped=${mapped.mkString("[", ", ", "]")} " +
        s"missing=${missing.mkString("[", ", ", "]")}")
    }
    if (autodetectLogOn) {
      val path = sys.env.getOrElse("ETL_AUTODETECT_LOG_PATH", s"$outDir/logs/etl_autodetect.csv")
      val nowIso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
      resolutions.foreach(r =>
        Outputs.appendAutodetectLog(path, nowIso, r.source, r.rows, r.autodetectedUrl, r.mapping))
    }

    val merged = Pipeline.run(spark, cfg, outDir)
    val mergedRows = merged.count()
    if (yamlMode) { // the reference's canonical single formatted-CSV output
      val rel = graft.ingest.YamlConfig.mergedCsvPath(yamlText)
      val ordered = merged.join(
        Pipeline.spineOrder(spark, cfg), Seq("url"), "left")
      Outputs.writeCsvFormatted(ordered, s"$outDir/$rel",
        orderBy = Seq(org.apache.spark.sql.functions.col("__spine_ord")),
        intLineage = Pipeline.IntLineageColumns)
      println(s"Merged data exported to $outDir/$rel")
    }
    if (runLogOn) {
      val path = sys.env.getOrElse("ETL_RUN_LOG_PATH", s"$outDir/logs/runs.csv")
      Outputs.appendRunLog(path, cfg.runId, cfg.runTimestamp, mergedRows,
        cfg.frogPath, cfg.gscPath, cfg.ga4Path, s"$outDir/merged_visibility")
    } else println("[governance] ETL_RUN_LOG disabled; skipping run log append")
    println(s"[pipeline] merged rows: $mergedRows")
    merged.show(10, truncate = 40)
    spark.stop()
  }
}
