package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.json4s._
import graft.{SparkEntry, Verify}

/** Smoke test of the benchmark itself, on the smallest inputs (the sf0.001
  * tables and 10k-row exports), in one JVM:
  *  - the metric names and units the runner prints match BENCHMARK.json;
  *  - every workload runs untraced and traced with all outputs correct;
  *  - spans nest, and self times add up to the traced pass wall;
  *  - the traced visibility pass measures exactly the planted counts;
  *  - every header synonym the generator uses resolves and analyzes;
  *  - a wrong pinned digest, or a wrong planted count, makes ok_frac < 1.
  *
  *   perfbench.SelfTest --work <dir> --data <dir> --bench <BENCHMARK.json>
  */
object SelfTest {

  private val VisibilityLayers = Seq("ingest.resolve_s", "ingest.scan_s", "ingest.input_mb",
    "ingest.rows", "Pipeline.normalize_s", "Pipeline.rows_dropped", "Pipeline.rollup_s",
    "Pipeline.spine_dup_rows", "Pipeline.run_s", "Pipeline.join_match_gsc",
    "Pipeline.join_match_ga4", "sinks.csv_s", "sinks.output_mb", "sinks.files")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(args("--work")).toAbsolutePath
    val dir = s"${args("--data")}/sf0.001"
    val problems = ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: => String): Unit =
      if (ok) println(s"ok    $what") else { println(s"FAIL  $what"); problems += what }

    val bench = jackson.JsonMethods.parse(Files.readString(Paths.get(args("--bench"))))
    def declared(key: String): Seq[(String, String)] = (bench \ key).children.map { m =>
      val JString(n) = m \ "name": @unchecked
      val JString(u) = m \ "unit": @unchecked
      n -> u
    }
    expect(declared("end_to_end") == Runner.EndToEnd,
      s"end_to_end metrics ${Runner.EndToEnd} match BENCHMARK.json")
    expect(declared("per_layer") == Runner.PerLayer,
      s"per_layer metrics match BENCHMARK.json (${Runner.PerLayer.size} declared)")

    val spark = Session.create(work)
    try {
      def printed(r: Runner.Result, want: Seq[(String, String)]): Boolean = {
        val json = jackson.JsonMethods.parse(r.json)
        want.forall { case (n, u) =>
          (json \ "metrics" \ n \ "unit") == JString(u) &&
          ((json \ "metrics" \ n \ "value") match {
            case JInt(_) | JDouble(_) => true
            case _ => false
          })
        } && (json \ "metrics").children.size == want.size
      }
      def pinsFor(qs: Seq[String]): Map[String, (String, Long)] =
        qs.map(q => q -> Verify.digest(SparkEntry.queries(q)(spark, dir))).toMap

      Workloads.Names.foreach { name =>
        val pins = Workloads.Registry.get(name).map(pinsFor).getOrElse(Map.empty)
        def make() = Workloads.create(name, spark, work.resolve(name), 7L, dir, pins)
        val plain = Runner.run(spark, make(), 0.0, trace = false, 7L, work.resolve(name))
        expect(plain.correct && plain.failed == 0, s"$name: untraced pass outputs correct " +
          s"(${plain.report.filter(_.contains("FAILED")).mkString("; ")})")
        expect(printed(plain, Runner.EndToEnd), s"$name: every end-to-end metric printed with its unit")

        val wl = make()
        val traced = Runner.run(spark, wl, 0.0, trace = true, 7L, work.resolve(name))
        expect(traced.correct, s"$name: traced pass outputs correct")
        expect(printed(traced, Runner.PerLayer), s"$name: every per-layer metric printed with its unit")
        val nesting = Tracer.nestingErrors(traced.spans)
        expect(traced.spans.nonEmpty && nesting.isEmpty,
          s"$name: ${traced.spans.size} spans nest ${nesting.take(3).mkString("; ")}")
        traced.spans.filter(_.parent == -1).foreach { root =>
          val of = traced.spans.filter(_.pass == root.pass)
          val selfSum = of.map { s => s.seconds - of.filter(_.parent == s.id).map(_.seconds).sum }.sum
          expect(math.abs(selfSum - root.seconds) < 1e-6,
            f"$name: self times add up to the traced pass wall ($selfSum%.4f of ${root.seconds}%.4f s)")
        }
        if (name == "visibility_merge") {
          val layerLines = traced.report.mkString("\n")
          expect(VisibilityLayers.forall(l => layerLines.contains(s"  $l ")),
            s"$name: traced report prints ${VisibilityLayers.mkString(", ")}")
          def value(l: String) = traced.report.find(_.contains(s"  $l ")).map(_.trim.split(" +")(2).toDouble)
          expect(value("Pipeline.rows_dropped") == value("planted.rows_dropped") &&
            value("Pipeline.spine_dup_rows") == value("planted.spine_dup_rows"),
            s"$name: traced drop and duplicate counts equal the planted counts")
        }
      }

      (0 until 6).foreach { seed =>
        val w = new VisibilityMergeWorkload(spark, work.resolve("headers"), seed, 1000)
        w.stage()
        val bad = w.resolveCheck().filter(_.error.isDefined)
        expect(bad.isEmpty, s"seed $seed: every header synonym resolves ${bad.flatMap(_.error).mkString("; ")}")
      }

      // deliberately wrong expectations must count as failed operations
      val qs = Workloads.RelationalQueries
      val wrong = pinsFor(qs).updated(qs.head, ("0" * 64, 0L))
      val bad = Runner.run(spark, new RegistryWorkload("relational_mix", spark, qs, dir, wrong, 7L),
        0.0, trace = false, 7L, work.resolve("wrong_digest"))
      val okFrac = bad.metrics.find(_._1 == "ok_frac").get._2
      expect(!bad.correct && bad.failed == 1 && okFrac < 1.0,
        s"a wrong digest for ${qs.head} fails 1 op (failed=${bad.failed}, ok_frac=$okFrac)")
      val badMerge = Runner.run(spark, new VisibilityMergeWorkload(spark, work.resolve("wrong_count"),
        7L, Workloads.MergeRows, p => p.copy(totalClicks = p.totalClicks + 1)), 0.0, trace = false, 7L,
        work.resolve("wrong_count"))
      expect(!badMerge.correct && badMerge.failed > 0,
        s"a wrong planted click total fails the merge check (failed=${badMerge.failed})")
    } finally spark.stop()

    if (problems.nonEmpty) {
      println(s"selftest: ${problems.size} FAILED")
      sys.exit(1)
    }
    println("selftest: all checks passed")
  }
}
