package graft

import org.apache.spark.sql.Row
import graft.Pipeline.PipelineConfig
import graft.ops.Scoring.{Bucket, ScoringConfig}

/** End-to-end pipeline over authored dirty-CSV fixtures that exercise every
  * ingest branch: synonym + autodetect resolution, GA4 renames + junk
  * filter + mangled-header re-parse, url normalization to a shared join key,
  * keep-first spine dedup, weighted aggregation with neutral weights,
  * null-division, scoring, rounding.
  */
class PipelineSpec extends SparkSpecBase with org.scalatest.BeforeAndAfterAll {

  private def fx(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  private lazy val cfg = PipelineConfig(
    frogPath = fx("frog.csv"),
    gscPath = fx("gsc.csv"),
    ga4Path = fx("ga4.csv"),
    siteBase = "https://www.acme-store.com",
    scoring = ScoringConfig(
      buckets = Bucket.fromConfig(Seq("1-2" -> 0.4, "2.1-5" -> 0.1)),
      margin = 0.001,
      maxPosition = 5.0,
      intentMultipliers = Map("transactional" -> 1.5, "informational" -> 0.8),
      urlIntentHints = Seq("/products/" -> "transactional")))

  // var-backed + released in afterAll (see GoldenDemoSpec): a retained
  // lazy val would pin the persist AND the staged checkpoints forever.
  private var mergedDf: org.apache.spark.sql.DataFrame = _
  private def merged: org.apache.spark.sql.DataFrame = {
    if (mergedDf == null) mergedDf = Pipeline.merged(spark, cfg).persist()
    mergedDf
  }

  override protected def afterAll(): Unit = {
    if (mergedDf != null) { mergedDf.unpersist(blocking = false); mergedDf = null }
    super.afterAll()
  }
  private def rowFor(urlContains: String): Row =
    merged.collect().find(_.getAs[String]("url").contains(urlContains)).get

  test("spine dedup keeps first file-order row; merged row count = unique urls") {
    assert(merged.count() == 5)
    assert(rowFor("anvil-1").getAs[String]("title") == "Anvil One")
  }

  test("three sources join on the normalized url key") {
    val anvil = rowFor("anvil-1")
    assert(anvil.getAs[String]("url") == "https://www.acme-store.com/products/anvil-1?sku=9")
    assert(anvil.getAs[Double]("clicks") == 1500.0) // 1,200 + 300 (comma-parsed)
    assert(anvil.getAs[Double]("impressions") == 30000.0)
    assert(anvil.getAs[Double]("users") == 120.0) // 100 + 20 across utm variants
  }

  test("weighted position, ctr recompute, percent ctr normalization") {
    val anvil = rowFor("anvil-1")
    assert(anvil.getAs[Double]("position") == 2.4) // (2*24000+4*6000)/30000
    assert(anvil.getAs[Double]("ctr") == 0.05) // recomputed clicks/impressions
    val blogs = rowFor("how-to-forge")
    assert(blogs.getAs[Double]("position") == 3.0) // zero impressions → neutral weight
    assert(blogs.isNullAt(blogs.fieldIndex("ctr"))) // 10/0 → null, not inf
  }

  test("unmatched spine rows keep null metrics (left join), not zeros") {
    val hammer = rowFor("hammer-2")
    assert(hammer.isNullAt(hammer.fieldIndex("clicks")))
    assert(hammer.isNullAt(hammer.fieldIndex("users")))
    assert(hammer.getAs[Long]("status_code") == 404L)
  }

  test("path-only urls join after site-base prefixing (frog + ga4)") {
    val contact = rowFor("/pages/contact")
    assert(contact.getAs[String]("url") == "https://www.acme-store.com/pages/contact")
    assert(contact.getAs[Double]("clicks") == 5.0)
  }

  test("derived metrics: engagement rate, click share, rounding suite") {
    val anvil = rowFor("anvil-1")
    // 102/180 = 0.56666… → bround(4) = 0.5667
    assert(anvil.getAs[Double]("engagement_rate") == 0.5667)
    // total clicks = 1500+50+10+5; share bround(6)
    assert(anvil.getAs[Double]("click_share") == BigDecimal(1500.0 / 1565.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
    // avg_engagement_time summed then rounded to long: 62.4+30.0 = 92.4 → 92
    assert(anvil.getAs[Long]("avg_engagement_time") == 92L)
  }

  test("scoring: bucket lookup, deficit clip, url-hint intent, missed clicks") {
    val anvil = rowFor("anvil-1") // position 2.4 → bucket "2.1-5" (0.1)
    assert(anvil.getAs[String]("expected_ctr_bucket") == "2.1-5")
    assert(anvil.getAs[Double]("expected_ctr") == 0.1)
    // deficit = 0.1 - 0.05 - 0.001 = 0.049; intent = 1.5 (/products/ hint)
    assert(anvil.getAs[Double]("ctr_deficit") == 0.049)
    assert(anvil.getAs[Double]("intent_multiplier") == 1.5)
    assert(anvil.getAs[Double]("missed_clicks") == 2205.0) // 0.049*30000*1.5
    val tools = rowFor("collections/tools") // position 1.5 → "1-2"
    assert(tools.getAs[String]("expected_ctr_bucket") == "1-2")
  }

  test("schema gaps slice: blank schema_types rows only") {
    val gaps = Pipeline.schemaGaps(merged).collect().map(_.getAs[String]("url")).toSet
    assert(gaps == Set(
      "https://www.acme-store.com/collections/tools",
      "https://www.acme-store.com/pages/contact"))
  }

  test("anomaly slice: candidates filtered by position, ranked by missed clicks") {
    val slice = Pipeline.anomalySlice(merged, cfg).collect()
    // contact (position 6 > maxPosition 5) and hammer (null metrics) excluded
    assert(!slice.exists(_.getAs[String]("url").contains("contact")))
    assert(!slice.exists(_.getAs[String]("url").contains("hammer")))
    val ranks = slice.sortBy(_.getAs[Int]("priority_rank"))
    assert(ranks.head.getAs[String]("url").contains("anvil-1")) // biggest opportunity
    assert(ranks.map(_.getAs[Int]("priority_rank")).toSeq == (1 to ranks.length))
  }

  test("GA4 mangled-header file re-parses through the comment fallback") {
    val m2 = Pipeline.loadGa4(spark, cfg.copy(ga4Path = fx("ga4_mangled.csv")))
    val rows = m2.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("url") == "https://www.acme-store.com/products/anvil-1?sku=9")
    assert(rows.head.getAs[Double]("users") == 7.0)
  }

  test("after a run only the returned frame's blocks stay resident") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val m = Pipeline.run(spark, cfg, out)
    // the returned frame is a checkpoint: one leaf over its stored RDD
    val own = m.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    assert(own.size == 1 && own.subsetOf(sc.getPersistentRDDs.keySet))
    // staged sources, the merge's inner cache and the debug frame go: the
    // caches release after their last action, the unreachable staging
    // checkpoints with the ContextCleaner
    def leftovers = sc.getPersistentRDDs.keySet -- before -- own
    val deadline = System.nanoTime() + 30e9.toLong
    while (leftovers.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(leftovers.isEmpty,
      s"left resident: ${leftovers.flatMap(sc.getPersistentRDDs.get).map(_.toString)}")
    assert(m.count() == 5)
  }

  test("full run writes the four parquet sinks; ctr_debug is the pre-filter candidate set") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    Pipeline.run(spark, cfg, out)
    for (s <- Seq("merged_visibility", "ctr_debug", "anomaly_ctr_underperf", "schema_gaps"))
      assert(spark.read.parquet(s"$out/$s").count() > 0, s)
    // debug slice == candidate mask (position/ctr/impressions non-null,
    // position ≤ maxPosition), BEFORE the missed_clicks > 0 keep-filter
    val debug = spark.read.parquet(s"$out/ctr_debug")
    val expectedCandidates = merged.collect().count { r =>
      !r.isNullAt(r.fieldIndex("position")) && !r.isNullAt(r.fieldIndex("ctr")) &&
        !r.isNullAt(r.fieldIndex("impressions")) &&
        r.getAs[Double]("position") <= cfg.scoring.maxPosition
    }
    assert(debug.count() == expectedCandidates)
    assert(debug.count() >= spark.read.parquet(s"$out/anomaly_ctr_underperf").count())
    // reference debug_cols_first ordering (etl_merge.py:947-949) + full width
    assert(debug.columns.take(11).toSeq == Seq("url", "position", "ctr", "impressions",
      "expected_ctr", "expected_ctr_bucket", "expected_ctr_units", "expected_ctr_uplift",
      "ctr_deficit", "intent_multiplier", "missed_clicks"))
    assert(Pipeline.ColumnOrder.forall(debug.columns.contains))
    // the run() path derives the anomaly sink from the scored debug frame
    // (single scoring pass); it must equal the standalone anomalySlice
    val fromRun = spark.read.parquet(s"$out/anomaly_ctr_underperf")
    val standalone = Pipeline.anomalySlice(merged, cfg)
    assert(fromRun.columns.toSeq == standalone.columns.toSeq)
    assert(fromRun.collect().map(_.toString).sorted
      .sameElements(standalone.collect().map(_.toString).sorted))
  }

  /** `cfg` over fresh copies of the fixture CSVs (a file identity no other
    * test has staged), with their headers already read once. */
  private def freshInputs(): PipelineConfig = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stage")
    def copy(name: String) = {
      val to = dir.resolve(name)
      java.nio.file.Files.copy(java.nio.file.Paths.get(fx(name)), to)
      graft.ingest.Sources.loadTable(spark, to.toString) // header memo
      to.toString
    }
    cfg.copy(frogPath = copy("frog.csv"), gscPath = copy("gsc.csv"), ga4Path = copy("ga4.csv"))
  }

  private def paths(c: PipelineConfig) = Seq(c.frogPath, c.gscPath, c.ga4Path)

  /** (url, ordinal) rows of a spine order, by ordinal. */
  private def inOrder(order: org.apache.spark.sql.DataFrame) =
    order.orderBy("__spine_ord").collect().map(_.getAs[String]("url")).toSeq

  test("a report, a run and the spine order parse each input CSV once") {
    val c = freshInputs()
    val plain = paths(c).map(p => graft.ingest.Sources.loadTable(spark, p).count())
    val out = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val ((rows, csvOrder, m), r) = ran {
      val rs = Pipeline.sourceResolutions(spark, c, countRows = true)
      val m = Pipeline.run(spark, c, out)
      val ordered = m.join(Pipeline.spineOrder(spark, c), Seq("url"), "left")
      (rs.map(_.rows), inOrder(ordered), m)
    }
    assert(r.fileScans == 3, s"file scans: $r")
    assert(rows == plain)
    assert(m.columns.toSeq == Pipeline.ColumnOrder)
    // the run-backed order is the order the Frog derivation gives
    assert(csvOrder == inOrder(Pipeline.spineOrder(spark, freshInputs())))
  }

  test("spineOrder without a prior run derives the order from Frog") {
    val c = freshInputs()
    val (order, r) = ran(Pipeline.spineOrder(spark, c).collect())
    assert(r.fileScans == 1, s"file scans: $r")
    import org.apache.spark.sql.functions.{col, length, min, monotonically_increasing_id}
    val derived = Pipeline.loadFrog(spark, c)
      .filter(col("url").isNotNull && length(col("url")) > 0)
      .withColumn("__spine_ord", monotonically_increasing_id())
      .groupBy(col("url")).agg(min(col("__spine_ord")).as("__spine_ord"))
    assert(order.map(_.toString).sorted.sameElements(derived.collect().map(_.toString).sorted))
    assert(order.length == 5)
  }

  test("a staged input is parsed again once its blocks are released or the file changes") {
    val c = freshInputs()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val first = Pipeline.sourceResolutions(spark, c, countRows = true).map(_.rows)
    // what GraftSession.release does to the staged blocks (the suite's
    // shared session cannot be released as a whole)
    (sc.getPersistentRDDs.keySet -- before).flatMap(sc.getPersistentRDDs.get)
      .filter(_.toString.contains("localCheckpoint")).foreach(_.unpersist(blocking = true))
    val (again, released) = ran(Pipeline.sourceResolutions(spark, c, countRows = true).map(_.rows))
    assert(released.fileScans == 3, s"after release: $released")
    assert(again == first)
    // a row appended to GSC at the same path: only GSC is parsed again
    // (and its header read again, the file's identity having changed)
    java.nio.file.Files.write(java.nio.file.Paths.get(c.gscPath),
      "https://www.acme-store.com/products/new-1,1,10,10%,3\n".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val (rewritten, r) = ran(Pipeline.sourceResolutions(spark, c, countRows = true).map(_.rows))
    assert(rewritten == Seq(first(0), first(1) + 1, first(2)))
    assert(r.fileScans == 2, s"after rewrite: $r")
    val out = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val (merged, runRan) = ran(Pipeline.run(spark, c, out).count())
    assert(runRan.fileScans == 0, s"run after the report: $runRan")
    assert(merged == 5)
  }
}
