package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The shared local session: one set of settings, one stats formula, and
  * one place that builds a session or releases persisted RDDs. Never calls
  * `GraftSession.release` — suites share one session and run concurrently,
  * so a release here would unpersist other suites' live checkpoints.
  */
class GraftSessionSpec extends SparkSpecBase {

  test("stats: (min, median, max); an even-length sample reports the upper middle") {
    assert(GraftSession.stats(Seq(3.0, 1.0, 2.0)) == ((1.0, 2.0, 3.0)))
    assert(GraftSession.stats(Seq(5.0, 9.0, 1.0, 7.0, 3.0)) == ((1.0, 5.0, 9.0)))
    assert(GraftSession.stats(Seq(4.0, 1.0, 3.0, 2.0)) == ((1.0, 3.0, 4.0)))
    assert(GraftSession.stats(Seq(2.0, 1.0)) == ((1.0, 2.0, 2.0)))
    assert(GraftSession.stats(Seq(0.5)) == ((0.5, 0.5, 0.5)))
  }

  test("growth: k and kc from lo/hi pairs with a known exponent") {
    val linear = GraftSession.growth(Nil, secs = Some((1.0, 10.0)))
    assert(math.abs(linear.k.get - 1.0) < 1e-12 && math.abs(linear.kc.get - 1.0) < 1e-12)
    // quadratic over a 10x step, and half-linear over a 100x step
    assert(math.abs(GraftSession.growth(Nil, secs = Some((2.0, 200.0))).k.get - 2.0) < 1e-12)
    assert(math.abs(GraftSession.growth(Nil, 100.0, Some((1.0, 10.0))).k.get - 0.5) < 1e-12)
    // 0.3 s -> 2.1 s over a 0.1 s floor: raw k understates, kc is linear
    val floored = GraftSession.growth(Nil, secs = Some((0.3, 2.1)), floor = 0.1)
    assert(floored.k.get < 0.9 && math.abs(floored.kc.get - 1.0) < 1e-12)
    // a rung within 50 ms of the floor timed overhead: kc is na
    assert(GraftSession.growth(Nil, secs = Some((0.12, 2.0)), floor = 0.1).kc.isEmpty)
    val counted = GraftSession.growth(Seq(("rec", 100.0, 1000.0), ("spill", 0.0, 5.0)))
    assert(counted.k.isEmpty && counted.factors == Seq("rec" -> Some(10.0), "spill" -> None))
    assert(counted.toString == "rec=10.00 spill=na")
    assert(floored.copy(factors = counted.factors).toString.startsWith("k=0.85 kc=1.00 rec=10.00"))
  }

  test("builder carries the shared settings into the suite session") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
  }

  test("a reliable checkpoint's files are deleted once its frame is unreachable") {
    val dir = Files.createTempDirectory("graft_ckpt_reap")
    def rddDirs: Seq[Path] = {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.getFileName.toString.startsWith("rdd-")).toSeq
      finally walk.close()
    }
    spark.conf.set(graft.core.Ckpt.DirKey, dir.toString)
    try {
      var out = graft.core.Ckpt.eager(spark.range(50).toDF("id"))
      assert(out.count() == 50)
      assert(rddDirs.nonEmpty, s"nothing checkpointed under $dir")
      out = null
      val deadline = System.nanoTime() + 30e9.toLong
      while (rddDirs.nonEmpty && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(200)
      }
      assert(rddDirs.isEmpty, s"checkpoint files left behind: ${rddDirs.mkString(", ")}")
    } finally {
      spark.conf.unset(graft.core.Ckpt.DirKey)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  private lazy val sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  test("main code builds sessions and releases persisted RDDs only in GraftSession") {
    assert(sources.size > 100, "src/main/scala not found from the working directory")
    for (pattern <- Seq("SparkSession.builder", "getPersistentRDDs.values.foreach")) {
      val offenders = sources.filter(p =>
        p.getFileName.toString != "GraftSession.scala" &&
          Files.readString(p).contains(pattern))
      assert(offenders.isEmpty, s"$pattern outside GraftSession: ${offenders.mkString(", ")}")
    }
  }

  test("main code declares exactly the ten entry points") {
    // a new probe or audit main is added here on purpose, or folded into
    // one of these
    val mains = for {
      p <- sources
      text = Files.readString(p)
      at = text.indexOf("def main(") if at >= 0
    } yield """(?m)^object (\w+)""".r.findAllMatchIn(text.take(at)).toSeq.last.group(1)
    assert(mains.sorted == Seq("Bench", "ExplainAudit", "LineageAudit", "MoverConfirm",
      "PipelineDemo", "PlanGateAudit", "QueryScaleBench", "SetSimAudit", "SpotBench", "Verify"))
  }

  test("bench artifacts are named and decoded only in graft.bench") {
    val benchPkg = Paths.get("src/main/scala/graft/bench")
    assert(Files.isDirectory(benchPkg))
    for (pattern <- Seq("\"canary_history.json\"", "\"bench_out.json\"", "JDouble(")) {
      val offenders = sources.filter(p => !p.startsWith(benchPkg) && Files.readString(p).contains(pattern))
      assert(offenders.isEmpty, s"$pattern outside graft/bench: ${offenders.mkString(", ")}")
    }
  }

  test("each query is registered once: no oracle maps or Q aliases in graft/queries, no names in SparkEntry") {
    val queriesPkg = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(queriesPkg))
    // a second name-keyed map, a per-dir oracle function or a per-group
    // plan alias is a registry kept beside the Query entries
    val banned = Seq("""\bMap\[String, String\]""", """\boracleFor\b""", """\btype Q\b""").map(_.r)
    val offenders = for {
      p <- sources if p.startsWith(queriesPkg)
      r <- banned if r.findFirstIn(Files.readString(p)).nonEmpty
    } yield s"$p: $r"
    assert(offenders.isEmpty, s"registry copies beside Query entries: ${offenders.mkString(", ")}")
    val entry = Files.readString(Paths.get("src/main/scala/graft/SparkEntry.scala"))
    assert(""""q\d""".r.findFirstIn(entry).isEmpty, "query names hand-listed in SparkEntry.scala")
  }

  test("query building blocks have one home: no session flag, spend sum or shared helper copied into graft/queries") {
    val queriesPkg = Paths.get("src/main/scala/graft/queries")
    val home = queriesPkg.resolve("QueryBlocks.scala")
    // sessions come from graft.ops.Sessions; the spend sum, the helpers and
    // the dot-product mirror fold from QueryBlocks
    val banned = Seq(
      """when\(col\("us"\) - lag\(col\("us"\), 1\)""",
      """\bval gapUs\b""",
      """\.agg\(expr\("sum\(CAST\(round\(o_totalprice \* 100\) AS BIGINT\)\) div 100"\)\.as\("v"\)\)""",
      """\b(?:val|def) (?:FuncWords|DailySql|raterLabel|shingles3)\b""",
      """def fold\(a: String, b: String\): String =\s+s"list_reduce\(list_prepend\(CAST\(0\.0 AS DOUBLE\), " \+\s+""" +
        """s"list_transform\(range\(1, len\(\$a\)\+1\), dp_i ->""").map(_.r)
    val offenders = for {
      p <- sources if p.startsWith(queriesPkg) && p != home
      r <- banned if r.findFirstIn(Files.readString(p)).nonEmpty
    } yield s"$p: $r"
    assert(offenders.isEmpty, s"building blocks copied outside their home: ${offenders.mkString(", ")}")
  }

  test("bench code is ASCII outside comments (an ASCII-default JVM prints '?' for the rest)") {
    val files = Seq("graft/Bench.scala", "graft/MoverConfirm.scala").map(Paths.get("src/main/scala", _)) ++
      sources.filter(_.startsWith(Paths.get("src/main/scala/graft/bench")))
    assert(files.size >= 4 && files.forall(Files.exists(_)))
    val offenders = for {
      p <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      code = line.trim.split("//", 2)(0)
      if !code.startsWith("*") && !code.startsWith("/*") && code.exists(_ > '\u007f')
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, s"non-ASCII code (println strings included):\n${offenders.mkString("\n")}")
  }
}
