package graft

import java.nio.file.Files
import graft.ingest.YamlConfig
import graft.sinks.Outputs

class ConfigAndOutputsSpec extends SparkSpecBase {

  test("YAML scoring config parses buckets in order, units, uplift, thresholds") {
    val cfg = YamlConfig.parseScoring(
      """scoring:
        |  expected_ctr_units: percent
        |  expected_ctr_uplift: 0.15
        |  max_position_for_ctr_eval: 20.0
        |  expected_ctr_by_position:
        |    "1": 32.0
        |    "2-3": 16.0
        |    "3.1-5": 8.0
        |    default: 0.6
        |  intent_multipliers:
        |    transactional: 1.5
        |mappings:
        |  url_intent_hints:
        |    /shop/: transactional
        |thresholds:
        |  ctr_underperf_margin: 0.002
        |""".stripMargin)
    assert(cfg.buckets.map(_.key) == Seq("1", "2-3", "3.1-5")) // dead 'default' skipped
    assert(cfg.units == "percent" && cfg.uplift == 0.15)
    assert(cfg.margin == 0.002 && cfg.maxPosition == 20.0)
    assert(cfg.intentMultipliers == Map("transactional" -> 1.5))
    assert(cfg.urlIntentHints == Seq("/shop/" -> "transactional"))
  }

  test("empty/missing YAML sections fall back to reference defaults") {
    val cfg = YamlConfig.parseScoring("site:\n  base_domain: x.com\n")
    assert(cfg.buckets.isEmpty && cfg.units == "fraction" && cfg.maxPosition == 5.0)
  }

  test("run log appends with header-once semantics; fields quoted") {
    val p = Files.createTempDirectory("graft_logs").resolve("runs.csv").toString
    Outputs.appendRunLog(p, "r1", 100L, 5L, "a.csv", "b.csv", "c, with comma.csv", "out")
    Outputs.appendRunLog(p, "r2", 200L, 6L, "a.csv", "b.csv", "c.csv", "out")
    val lines = scala.io.Source.fromFile(p).getLines().toList
    assert(lines.length == 3)
    assert(lines.head.startsWith("run_id,run_timestamp"))
    assert(lines(1).contains("\"c, with comma.csv\""))
  }

  test("autodetect log records mapping audit") {
    val p = Files.createTempDirectory("graft_logs").resolve("autodetect.csv").toString
    Outputs.appendAutodetectLog(p, "2026-01-01T00:00:00Z", "GSC", 20,
      Some("Top pages"), Map("url" -> Some("Top pages"), "clicks" -> Some("Clicks"),
        "position" -> None))
    val lines = scala.io.Source.fromFile(p).getLines().toList
    assert(lines(1).contains("Top pages") && lines(1).contains("position"))
  }

  test("envBool mirrors the reference's truthy/falsy/default parsing") {
    // unset name → default (both ways)
    assert(Outputs.envBool("GRAFT_NO_SUCH_ENV", default = true))
    assert(!Outputs.envBool("GRAFT_NO_SUCH_ENV", default = false))
    // set values come from the real environment, so pin via PATH (always set,
    // never boolean-like → falls back to default)
    assert(Outputs.envBool("PATH", default = true))
    assert(!Outputs.envBool("PATH", default = false))
  }

  test("YAML inputs section and output.merged_csv parse with reference defaults") {
    val y = """inputs:
              |  screaming_frog: data_demo/screaming_frog_export.csv
              |  gsc_csv: gsc.csv
              |output:
              |  merged_csv: out/custom.csv
              |""".stripMargin
    assert(YamlConfig.parseInputs(y) ==
      Map("screaming_frog" -> "data_demo/screaming_frog_export.csv", "gsc_csv" -> "gsc.csv"))
    assert(YamlConfig.mergedCsvPath(y) == "out/custom.csv")
    assert(YamlConfig.parseInputs("site:\n  base_domain: x\n") == Map.empty)
    assert(YamlConfig.mergedCsvPath("{}") == "merged/merged_visibility.csv")
  }

  test("A4 resolution ladder: ENV → sibling xlsx key → extension swap → default → swap → verbatim") {
    import graft.ingest.Sources
    val dir = Files.createTempDirectory("graft_resolve")
    def touch(name: String): String = {
      val p = dir.resolve(name); Files.write(p, Array[Byte]()); p.toString
    }
    val missing = dir.resolve("missing.csv").toString

    // 1. ENV override wins, expanded, never existence-probed
    assert(Sources.resolveInputPath("GSC_CSV_PATH", Map("gsc_csv" -> missing), "gsc_csv",
      missing, env = Map("GSC_CSV_PATH" -> s"$dir/from_env.csv"))
      == s"$dir/from_env.csv")
    // blank ENV falls through to the config ladder
    assert(Sources.resolveInputPath("GSC_CSV_PATH", Map.empty, "gsc_csv", missing,
      env = Map("GSC_CSV_PATH" -> "  ")) == missing)

    // 2. sibling *_xlsx key wins when its file exists
    val sibXlsx = touch("sib.xlsx")
    val primary = touch("primary.csv")
    assert(Sources.resolveInputFromConfig(
      Map("gsc_csv" -> primary, "gsc_xlsx" -> sibXlsx), "gsc_csv", missing, env = Map.empty)
      == sibXlsx)

    // 3. extension swap on the primary when the swapped file exists
    val haveXlsx = touch("only_excel.xlsx")
    assert(Sources.resolveInputFromConfig(
      Map("gsc_csv" -> s"$dir/only_excel.csv"), "gsc_csv", missing, env = Map.empty)
      == haveXlsx)

    // 4. default, then default's swap
    val defCsv = touch("default.csv")
    assert(Sources.resolveInputFromConfig(
      Map("gsc_csv" -> missing), "gsc_csv", defCsv, env = Map.empty) == defCsv)
    val defOnlyXlsx = touch("def_excel.xlsx")
    assert(Sources.resolveInputFromConfig(
      Map("gsc_csv" -> missing), "gsc_csv", s"$dir/def_excel.csv", env = Map.empty)
      == defOnlyXlsx)

    // 5. nothing exists → primary verbatim (caller validates — A9)
    assert(Sources.resolveInputFromConfig(Map.empty, "gsc_csv", missing, env = Map.empty)
      == missing)
  }

  test("expandPath and swapExt mirror the reference helpers") {
    import graft.ingest.Sources
    assert(Sources.expandPath("$DATA/x.csv", env = Map("DATA" -> "/d")) == "/d/x.csv")
    assert(Sources.expandPath("${DATA}/x.csv", env = Map("DATA" -> "/d")) == "/d/x.csv")
    // unknown vars stay verbatim (os.path.expandvars contract)
    assert(Sources.expandPath("$NOPE/x.csv", env = Map.empty) == "$NOPE/x.csv")
    assert(Sources.expandPath("~/x.csv", env = Map.empty)
      == sys.props("user.home") + "/x.csv")
    assert(Sources.expandPath("~", env = Map.empty) == sys.props("user.home"))
    assert(Sources.swapExt("a/b.csv") == "a/b.xlsx")
    assert(Sources.swapExt("a/b.xlsx") == "a/b.csv")
    assert(Sources.swapExt("a/b.xls") == "a/b.csv")
    assert(Sources.swapExt("a/noext") == "a/noext.csv") // "prefer csv alternative"
    assert(Sources.swapExt("a.dir/noext") == "a.dir/noext.csv") // dot in dir, not ext
  }

  test("sourceResolutions reports mapping + autodetect + row counts per source") {
    def fx(name: String): String = getClass.getResource(s"/fixtures/$name").getPath
    // gsc_dotted.csv is gsc.csv with an "Avg. Position" header: the dot must
    // not parse as a struct access while the "Top pages" url is sniffed
    Seq("gsc.csv", "gsc_dotted.csv").foreach { gsc =>
      val cfg = graft.Pipeline.PipelineConfig(
        frogPath = fx("frog.csv"), gscPath = fx(gsc), ga4Path = fx("ga4.csv"))
      val rs = graft.Pipeline.sourceResolutions(spark, cfg, countRows = true)
      assert(rs.map(_.source) == Seq("frog", "gsc", "ga4"))
      rs.foreach { r =>
        assert(r.mapping.get("url").flatten.isDefined, s"${r.source} lost its url mapping")
        assert(r.rows > 0, s"${r.source} row count")
      }
      assert(rs(1).mapping.get("position").flatten.isDefined, s"$gsc lost its position mapping")
      val positions = graft.Pipeline.loadGsc(spark, cfg).select("position")
        .collect().map(_.getDouble(0)).sorted
      assert(positions.sameElements(Seq(1.5, 2.0, 3.0, 4.0, 6.0)), s"$gsc positions")
      val lazyRs = graft.Pipeline.sourceResolutions(spark, cfg)
      assert(lazyRs.forall(_.rows == -1L), "rows counted without being asked")
    }
  }
}
