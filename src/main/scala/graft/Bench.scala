package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession.{stats, timedReleased}
import graft.bench.{History, Movers}

/** Driver-run benchmark: times every SparkEntry query at the configured sf
  * dir and prints three JSON lines (compact, full, ultra); bench_out.json
  * keeps the full one. Methodology:
  *  - a warmup action first (JVM/codegen/parquet-footer caches are not part
  *    of query cost);
  *  - each query materializes fully through the `noop` sink
  *    ([[GraftSession.runQuery]]), and every sample starts from a released
  *    session ([[GraftSession.timedReleased]]): `localCheckpoint` blocks the
  *    SQL cache does not track otherwise pile up across the sweep;
  *  - the end-to-end pipeline runs FIRST, so pipeline_1m reflects a fresh
  *    session, not a hundred queries' worth of shuffle and block residue;
  *  - stratified sampling in sorted order: one warm sample per query, then
  *    n=[[Iters]] pools for the 50 slowest, newcomers and mover candidates,
  *    and n=[[TopIters]] pools for the 10 slowest. Every number that can
  *    flag a regression is an n≥3 median; the stable sub-second tail, whose
  *    ±2× swing sits below the mover floor, costs one sample. `total` is
  *    the sum of reported medians, and "spread" carries [min, median, max];
  *  - movers against the previous artifact and a sample of the
  *    sub-threshold band re-run in one forked fresh JVM ([[MoverConfirm]]);
  *    the policy is [[graft.bench.Movers]];
  *  - constant-code canaries, sampled before, through and after the sweep,
  *    measure the host; the ledger they are read against and the previous
  *    artifact are read through [[graft.bench.History]];
  *  - a skew-join harness ([[skewBench]]) reports under "skew";
  *  - queries that replay a session memo are listed under "memoized": their
  *    numbers time a ≤90-row LocalRelation replay, not the clustering.
  */
object Bench {

  private type Stats = (Double, Double, Double)

  val Iters = 3
  val TopIters = 5
  /** Pipeline rounds measured after one discarded warmup round. */
  val PipeIters = 3

  /** Pre-flight host gate: a run whose canaries read above the threshold
    * against the ledger floors backs off and retries (sleeps sum to 60 s at
    * most); still above it, the artifact ships stamped degraded_host. */
  val PreflightMax = 3
  val PreflightThreshold = 1.5
  val PreflightBackoffMs = 20000L

  def main(args: Array[String]): Unit = {
    val wallT0 = System.nanoTime()
    def wallSec: Double = (System.nanoTime() - wallT0) / 1e9
    // every phase stamps its cumulative wall, so bench-wall regressions are attributable
    def wallMark(label: String): Unit = System.err.println(f"[bench-wall] $label t=$wallSec%.1f s")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    // SPARK_GRAFT_BENCH_ONLY=q1,q2,... sweeps only those queries and writes
    // neither bench_out.json nor the ledger: a partial map would make the
    // next full run's missing queries newcomers
    val onlySubset: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').map(_.trim).toSet)
    val spark = GraftSession.local(cpus)

    // Warmup: exercise codegen, shuffle machinery, and every table's footer.
    try {
      SparkEntry.queries.headOption.foreach { case (n, _) => GraftSession.runQuery(spark, n, sfDir) }
      spark.catalog.clearCache()
    } catch { case _: Throwable => }
    wallMark("warmup")

    // Both read once, before this run overwrites either.
    val prev = History.readPrev(sfDir, cpus)
    val ledger = History.read()
    val hist = ledger.of(sfDir)

    val sweep = new Sweep(spark, sfDir)
    val pre = sweep.preflight(hist, ledger.alltime.get(sfDir))
    // a factor of -1 (empty ledger) can never stamp the run degraded
    val degradedHost = pre.factor > PreflightThreshold
    if (degradedHost)
      System.err.println(f"[bench] preflight EXHAUSTED at factor ${pre.factor}%.2f - artifact stamped degraded_host")
    wallMark("preflight")

    // a subset sweep is a smoke: the 1M-row pipeline would be most of its
    // wall, so it takes the no-samples path (phases -1, samples [])
    val pipeSamples: Seq[PipeSample] =
      if (onlySubset.nonEmpty) Seq.empty
      else try pipelineBench(spark, stage = sweep.stage)
      catch { case e: Throwable =>
        // never abort the sweep for it, and never swallow it silently
        System.err.println(s"[bench] pipelineBench FAILED: $e")
        Seq.empty
      }
    GraftSession.release(spark)
    wallMark("pipeline")

    // First pass: one WARM sample per query (a cold first run after
    // release pays codegen/footer/JIT cost and read 1.5–2× high fleet-wide).
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(k => onlySubset.forall(_.contains(k)))
    sweep.sampleCanaries("fp:0")
    val firstPass = names.zipWithIndex.map { case (name, i) =>
      if (i > 0 && i % 50 == 0) sweep.sampleCanaries(s"fp:$i")
      val gc = prev.medians.get(name).forall(_ >= Movers.FloorSec)
      val ss = sweep.samples(name, iters = 1, warmup = true, gc = gc)
      name -> (if (ss.isEmpty) (-1.0, -1.0, -1.0) else stats(ss))
    }
    sweep.sampleCanaries("fp:end")
    wallMark("first_pass")

    // Re-measure to an n=Iters pool: the 50 slowest carry the total,
    // newcomers have no reference point, and a mover must carry n≥3 spread.
    val top50 = slowest(firstPass, 50).map(_._1).toSet
    val newcomers = firstPass.collect {
      case (k, v) if v._2 >= 0 && !prev.names.contains(k) => k }.toSet
    val moverCandidates = firstPass.collect { case (k, v)
        if v._2 >= 0 && prev.medians.get(k).exists(Movers.isMove(v._2, _)) => k }.toSet
    // the first-pass warm sample joins the pool, and the pool joins the top-10 pool
    val pooled = mutable.Map[String, Seq[Double]]()
    // only queries whose reported stats came from a successful n≥3 re-measure
    val fullMeasured = mutable.Set[String]()
    var reCount = 0
    val results1 = firstPass.map { case (k, v) =>
      if (moverCandidates(k) || top50(k) || newcomers(k)) {
        if (reCount > 0 && reCount % 25 == 0) sweep.sampleCanaries(s"re:$reCount")
        reCount += 1
        val fresh = sweep.samples(k, Iters - 1)
        // a crashed re-measure must not erase a valid first-pass result
        if (fresh.isEmpty) k -> v
        else {
          val pool = fresh :+ v._2
          pooled(k) = pool
          fullMeasured += k
          k -> stats(pool)
        }
      } else k -> v
    }
    sweep.sampleCanaries("re:end")
    wallMark("re_measure")

    val topNames = slowest(results1, 10).map(_._1).toSet
    val results2 = results1.map { case (k, v) =>
      if (topNames(k)) {
        val prior = pooled.getOrElse(k, Seq.empty)
        val fresh = sweep.samples(k, TopIters - prior.size, warmup = true)
        if (fresh.isEmpty) k -> v
        else {
          fullMeasured += k
          k -> stats(fresh ++ prior)
        }
      } else k -> v
    }
    sweep.sampleCanaries("top:end")
    wallMark("top10")

    // In-run re-measures share the aged JVM and the contention window, so
    // they cannot clear themselves: surviving movers (slowest first,
    // capped) and a band sample re-run in one fresh JVM.
    val inRun = results2.toMap
    val moverNames = moverCandidates.filter(k => Movers.isMove(inRun(k)._2, prev.medians(k)))
    val confirmList = moverNames.toSeq.sortBy(k => -inRun(k)._2).take(Movers.MaxMoverConfirm)
    val bandSample = Movers.bandSample(results2.map { case (k, v) => k -> v._2 },
      prev.medians, moverNames)
    val freshJvm = MoverConfirm.fork(confirmList ++ bandSample, sfDir, cpus)
    wallMark("fresh_jvm_fork")
    def freshMedian(k: String): Double = freshJvm.get(k).fold(-1.0)(_._2)
    val moverStatus = moverNames.iterator
      .map(k => k -> Movers.moverStatus(prev.medians(k), freshMedian(k))).toMap
    // phantoms and band members report their fresh-JVM numbers, so the
    // total reads clean-host evidence
    val results = results2.map { case (k, v) =>
      if (moverStatus.get(k).contains("phantom") || (bandSample.contains(k) && freshMedian(k) >= 0))
        k -> freshJvm(k)
      else k -> v
    }
    val skew = try skewBench(spark, sfDir)
      catch { case _: Throwable => (-1.0, -1.0, -1.0) }
    wallMark("skew")

    def pstats(f: PipeSample => Double): Stats =
      if (pipeSamples.isEmpty) (-1.0, -1.0, -1.0) else stats(pipeSamples.map(f))
    val pFull = pstats(_.full)
    val canaryMed = pstats(_.canary)._2
    val iocMed = pstats(_.ioc)._2
    // vs the previous artifact alone; cpu/io factors read the ledger's floor
    val hostFactor =
      if (canaryMed > 0 && prev.canary > 0) canaryMed / prev.canary else -1.0
    val (cpuFactor, ioFactor) = History.factors(canaryMed, iocMed, hist)
    val moversDiscounted = Movers.discounted(cpuFactor, ioFactor, hostFactor)
    // a failed pipeline bench must not append -1 entries that use up the keep-window
    val after = ledger.appended(sfDir, canaryMed, iocMed)
    val appended = onlySubset.isEmpty && (canaryMed > 0 || iocMed > 0) && History.write(after)
    val alltimeFloor = (if (appended) after else ledger).alltime.get(sfDir)

    def fmt(t: Stats) = s"[${t._1},${t._2},${t._3}]"
    def r3(d: Double): String = f"$d%.3f"
    def obj(rs: Seq[(String, Stats)])(f: Stats => String): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    // prev = previous median, in_run = this sweep's n≥3 re-measure,
    // fresh_jvm = the fork's median (-1 if none), canary_cpu/io = rolling
    // factors of the series sample nearest the query's own measurement
    def entry(k: String, status: String): String = {
      val (cf, iof) = History.seriesFactors(sweep.series.toSeq, sweep.seriesIdxAt.getOrElse(k, -1), hist)
      f""""$k":{"prev":${prev.medians(k)}%.3f,"in_run":${inRun(k)._2}%.3f,"fresh_jvm":${freshMedian(k)}%.3f,""" +
        f""""status":"$status","canary_cpu":$cf%.3f,"canary_io":$iof%.3f}"""
    }
    val moversJson = moverNames.toSeq.sorted.map(k => entry(k, moverStatus(k))).mkString("{", ",", "}")
    val bandJson = bandSample.sorted
      .map(k => entry(k, Movers.bandStatus(prev.medians(k), freshMedian(k)))).mkString("{", ",", "}")
    val seriesJson = sweep.series.map { case (l, c, i) =>
      f"""{"at":"$l","cpu":$c%.3f,"io":$i%.3f}"""
    }.mkString("[", ",", "]")
    val memoJson = (graft.queries.ExtensionQueries2.memoizedQueries ++
        graft.queries.ExtensionQueries9.ppjoinMemoizedQueries ++
        graft.queries.ExtensionQueries134.memoizedQueries)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val samplesJson = pipeSamples.zip(Movers.pipeVerdicts(pipeSamples))
      .map { case (s, v) => s"""{${s.fields},"verdict":"$v"}""" }.mkString("[", ",", "]")
    // the generator cost the staged memos amortize, so sum-of-medians vs
    // wall_sec reconciles
    val stagingJson = graft.core.StagedMemo.stagingSeconds.toSeq.sortBy(_._1)
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.map(_._2._2).filter(_ >= 0).sum
    val slow10 = slowest(results, 10)
    val suffix =
      s""""skew":{"unsalted":${skew._1},"salted":${skew._2},"aqe":${skew._3}},""" +
      f""""host_factor":$hostFactor%.3f,"prev_canary_median":${prev.canary}%.3f,""" +
      f""""cpu_factor":$cpuFactor%.3f,"io_factor":$ioFactor%.3f,""" +
      s""""canary_history_n":${hist.size},""" +
      f""""preflight":{"cpu":${pre.cpu}%.3f,"io":${pre.io}%.3f,"factor":${pre.factor}%.3f,""" +
      s""""attempts":${pre.attempts}},"degraded_host":$degradedHost,""" +
      f""""alltime_floor":{"cpu":${alltimeFloor.map(_._1).getOrElse(-1.0)}%.3f,""" +
      f""""io":${alltimeFloor.map(_._2).getOrElse(-1.0)}%.3f},""" +
      s""""movers_discounted":$moversDiscounted,""" +
      s""""movers":$moversJson,"band_sample":$bandJson,""" +
      s""""canary_series":$seriesJson,""" +
      s""""memoized":$memoJson,"staging_sec":$stagingJson,""" +
      s""""pipeline_1m_sec":${pFull._2},"pipeline_1m_spread":${fmt(pFull)},""" +
      s""""pipeline_n":$PipeIters,"pipeline_phases":{"csv_scan":${fmt(pstats(_.csv))},""" +
      s""""merge_from_parquet":${fmt(pstats(_.merge))},""" +
      s""""canary":${fmt(pstats(_.canary))},""" +
      s""""io_canary":${fmt(pstats(_.ioc))},""" +
      s""""full":${fmt(pFull)}},"pipeline_samples":$samplesJson,""" +
      f""""wall_sec":$wallSec%.1f,""" +
      s""""cpus":"$cpus","sf":"$sfDir"}"""
    // "n" is the full-measure tier, "n_tail" the single-sample tier,
    // "n_top10" the top-10 tier
    val tiers = s""""n":$Iters,"n_tail":1,"n_top10":$TopIters,""" +
      s""""n_full_measured":${fullMeasured.size},"movers_checked":${moverCandidates.size},""" +
      s""""movers_confirm_n":${confirmList.count(freshJvm.contains)},""" +
      s""""band_sample_n":${bandSample.size},"""
    // The full line is ~5 KB and overflows a bounded stdout capture, so a
    // compact line (`queries` limited to the slowest 10) prints before it.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec",""" + tiers +
      s""""queries_total":${results.size},"queries":${obj(slow10)(_._2.toString)},""" +
      s""""spread":${obj(slow10)(fmt)},""" + suffix
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" + tiers +
      s""""queries":${obj(results)(_._2.toString)},"spread":${obj(results)(fmt)},""" + suffix
    // The LAST line must fit the driver's tail capture: it keeps the final
    // 2000 chars, and sbt appends a ~70-char "[success]" line. So the ultra
    // line holds only fixed-size fields (~700 chars).
    val ultra = s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""n":$Iters,"n_tail":1,"n_top10":$TopIters,"queries_total":${results.size},""" +
      s""""host_factor":${r3(hostFactor)},"cpu_factor":${r3(cpuFactor)},""" +
      s""""io_factor":${r3(ioFactor)},"movers_discounted":$moversDiscounted,""" +
      s""""movers_n":${moverNames.size},""" +
      s""""movers_phantom_n":${moverStatus.values.count(_ == "phantom")},""" +
      s""""degraded_host":$degradedHost,""" +
      f""""wall_sec":$wallSec%.0f,""" +
      s""""pipeline_1m_sec":${r3(pFull._2)},""" +
      s""""skew":{"unsalted":${r3(skew._1)},"salted":${r3(skew._2)},"aqe":${r3(skew._3)}},""" +
      s""""queries":${obj(slow10)(v => r3(v._2))},"sf":"$sfDir"}"""
    println(compact)
    println(json)
    println(ultra)
    if (onlySubset.isEmpty)
      Files.write(Paths.get(History.ArtifactPath), json.getBytes(UTF_8))
    if (ultra.length > 1800)
      System.err.println(s"[bench] WARNING: ultra line ${ultra.length} chars - may exceed the 2000-char stdout tail capture")
    sweep.stage.foreach(_.cleanup())
    spark.stop()
  }

  /** The `n` slowest successful results, slowest first. */
  private def slowest(rs: Seq[(String, Stats)], n: Int): Seq[(String, Stats)] =
    rs.filter(_._2._2 >= 0).sortBy(-_._2._2).take(n)

  private final case class Preflight(cpu: Double, io: Double, factor: Double, attempts: Int)

  /** One run's session and canary stage, with the canary series sampled
    * through the sweep and each query's place in it. */
  private final class Sweep(spark: SparkSession, sfDir: String) {
    // Staged for the whole run so samples can interleave with the sweep:
    // one time-point cannot vouch for ~50 minutes of host state.
    val stage: Option[CanaryStage] =
      try Some(new CanaryStage(spark, 1000000L))
      catch { case e: Throwable =>
        System.err.println(s"[bench] canary staging FAILED: $e"); None }
    /** (label, cpu_sec, io_sec) in sweep order, emitted as `canary_series`. */
    val series = mutable.ArrayBuffer[(String, Double, Double)]()
    /** Index of the last series sample before each query's accepted
      * measurement (re-measures overwrite it). */
    val seriesIdxAt = mutable.Map[String, Int]()

    def sampleCanaries(label: String): Unit = stage.foreach { st =>
      try series += ((label, timedReleased(spark)(st.runCpu()), timedReleased(spark)(st.runIo())))
      catch { case e: Throwable =>
        System.err.println(s"[bench] canary sample $label FAILED: $e") }
    }

    /** Best-of-2 per canary (what a clean host can do; the min strips
      * one-off scheduler blips) against the ledger's floors, retried with
      * backoff while above [[PreflightThreshold]]. */
    def preflight(hist: Seq[(Double, Double)], alltime: Option[(Double, Double)]): Preflight = {
      var p = Preflight(-1.0, -1.0, -1.0, 0)
      var ok = false
      while (!ok && p.attempts < PreflightMax) {
        val (cpu, io) = stage.fold((p.cpu, p.io)) { st =>
          (GraftSession.timedSamples(spark, 2)(st.runCpu()).min,
            GraftSession.timedSamples(spark, 2)(st.runIo()).min)
        }
        p = Preflight(cpu, io, math.max(
          History.preflightFactor(cpu, hist.map(_._1), alltime.map(_._1)),
          History.preflightFactor(io, hist.map(_._2), alltime.map(_._2))), p.attempts + 1)
        if (p.factor > PreflightThreshold) {
          System.err.println(f"[bench] preflight ${p.attempts}/$PreflightMax: host " +
            f"factor ${p.factor}%.2f > $PreflightThreshold (cpu $cpu%.2fs io $io%.2fs) - backing off")
          if (p.attempts < PreflightMax) Thread.sleep(PreflightBackoffMs * p.attempts)
        } else ok = true
      }
      p
    }

    /** `iters` released, timed runs of one query, marked against the series;
      * empty on any failure. `warmup` discards one run first: by re-measure
      * time other queries have evicted this one's footer and JIT state, and
      * that cold run would land in the max. `gc` gates the per-query full
      * GC, whose pause exceeds the noise it prevents on the sub-floor tail.
      */
    def samples(name: String, iters: Int, warmup: Boolean = false,
        gc: Boolean = true): Seq[Double] = {
      def once(): Unit = GraftSession.runQuery(spark, name, sfDir)
      val ss = try {
        if (gc) System.gc() // don't charge query N with query N-1's garbage
        val cold = if (warmup) timedReleased(spark)(once()) else -1.0
        val warm = GraftSession.timedSamples(spark, iters)(once())
        // how much the discarded warmup buys, per query
        if (warmup && iters == 1)
          System.err.println(f"[bench-wq] $name cold=$cold%.3f warm=${warm.head}%.3f")
        warm
      } catch { case _: Throwable => Seq.empty }
      if (series.nonEmpty) seriesIdxAt(name) = series.size - 1
      ss
    }
  }

  /** One pipeline measurement round, its phases timed back-to-back:
    *  - `csv`: raw robust-CSV scan of the three 1M-row inputs — ingest I/O
    *    and parse, no merge logic;
    *  - `merge`: the SAME merge plan over parquet-staged copies — plan cost
    *    with CSV I/O removed;
    *  - `full`: CSV ingest → merge end-to-end (reported as pipeline_1m_sec);
    *  - `canary` / `ioc`: the [[CanaryStage]] probes.
    * Within a round `full ≈ csv + merge` is a checkable contract with the
    * evidence taken at the same instant; [[Movers.pipeVerdicts]] attributes
    * each sample that breaks it.
    */
  final case class PipeSample(csv: Double, merge: Double, full: Double, canary: Double,
      gcSec: Double = -1.0, cachedBytes: Long = -1L, heapMb: Long = -1L,
      ioc: Double = -1.0, fullRan: Option[GraftSession.Ran] = None) {
    def phaseSum: Double = csv + merge
    def fullOverSum: Double = if (phaseSum > 0) full / phaseSum else -1.0
    /** The sample's JSON fields, without braces. */
    def fields: String =
      f""""csv":$csv%.3f,"merge":$merge%.3f,"full":$full%.3f,""" +
        f""""canary":$canary%.3f,"io_canary":$ioc%.3f,""" +
        f""""full_over_sum":$fullOverSum%.2f,""" +
        f""""gc_sec":$gcSec%.3f,"cached_bytes":$cachedBytes,"heap_mb":$heapMb"""
  }

  /** The two constant-code host probes, staged once for a whole bench run
    * so Bench can interleave samples through the sweep (`canary_series`)
    * and read each mover against the host state nearest its own
    * measurement:
    *  - cpu: schema-declared scan of a constant ~60 MB CSV — parse-bound;
    *  - io: constant ~190 MB incompressible parquet (xxhash64 columns
    *    defeat every encoding) through one fixed full-width shuffle —
    *    disk/shuffle-bound, the dimension the CSV canary is blind to.
    */
  final class CanaryStage(spark: SparkSession, n: Long) {
    val dir: String =
      Files.createTempDirectory("graft_canary_stage").toString
    locally {
      spark.range(2 * n).select(
          concat(lit("row"), col("id"), lit("-"),
            pmod(col("id") * 2654435761L, lit(1000003L))).as("ca"),
          pmod(col("id"), lit(9973)).as("cb"),
          (pmod(col("id"), lit(100000)) / 7.0).as("cc"))
        .repartition(8).write.mode("overwrite").option("header", "true")
        .csv(s"$dir/canary")
      spark.range(8 * n).select(
          xxhash64(col("id")).as("h1"),
          xxhash64(col("id"), lit(1L)).as("h2"),
          (pmod(xxhash64(col("id"), lit(2L)), lit(1000000L)) / lit(10000.0)).as("x"))
        .repartition(8).write.mode("overwrite").parquet(s"$dir/iocanary")
    }
    def runCpu(): Unit =
      GraftSession.noop(spark.read.schema("ca STRING, cb BIGINT, cc DOUBLE")
        .option("header", "true").csv(s"$dir/canary"))
    def runIo(): Unit =
      GraftSession.noop(spark.read.parquet(s"$dir/iocanary")
        .repartition(32, col("h1"))
        .groupBy(pmod(col("h1"), lit(9973)).as("g"))
        // pmod before sum: raw xxhash64 values span the full 64-bit
        // range, and 8M of them overflow a long under ANSI
        .agg(sum(pmod(col("h2"), lit(1000000007L))).as("s"), sum(col("x")).as("sx")))
    def cleanup(): Unit =
      try FileUtils.deleteDirectory(new java.io.File(dir)) catch { case _: Throwable => }
  }

  /** Total JVM GC time (ms) across all collectors: its delta around a
    * timed window tells a GC burst from scheduler-side interference. */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** The reference's OWN workload at scale: the full three-source
    * visibility merge (robust CSV ingest → schema resolution → URL
    * normalization → per-source rollups → spine join → scoring) over
    * synthesized 1M-row Frog/GSC/GA4 CSVs — the reference runs this exact
    * pipeline on ~20-row demo files; this measures the engine running it
    * at ~50,000× that size (reported as "pipeline_1m_sec"). CSVs are
    * generated once per bench run into a temp dir, deterministically, and
    * every input is staged untimed before the first measured round.
    */
  def pipelineBench(spark: SparkSession, n: Long = 1000000L,
      stage: Option[CanaryStage] = None): Seq[PipeSample] = {
    val dir = Files.createTempDirectory("graft_pipe_bench").toString
    // canary data: the caller's run-lifetime stage when provided (Bench
    // shares one stage between the pipeline phases and the sweep-long
    // canary_series); self-staged + self-cleaned otherwise
    val canaries = stage.getOrElse(new CanaryStage(spark, n))
    def url(i: org.apache.spark.sql.Column) =
      concat(lit("https://www.acme-store.com/products/p"), pmod(i, lit(700000L)),
        when(pmod(i, lit(3)) === 0, lit("/?utm_source=feed&sku=1")).otherwise(lit("?sku=1")))
    spark.range(n).select(
        url(col("id")).as("Address"), lit("text/html").as("Content"),
        lit(200).as("Status Code"), concat(lit("Title "), col("id")).as("Title 1"),
        lit("desc").as("Meta Description 1"), pmod(col("id"), lit(40)).as("Inlinks"),
        pmod(col("id"), lit(2000)).as("Word Count"),
        when(pmod(col("id"), lit(2)) === 0, "Product").otherwise("BlogPosting")
          .as("Structured Data"),
        pmod(col("id"), lit(9)).as("Outlinks"))
      .repartition(8).write.mode("overwrite").option("header", "true").csv(s"$dir/frog")
    spark.range(n).select(
        url(col("id")).as("Top pages"), pmod(col("id"), lit(500)).as("Clicks"),
        (pmod(col("id"), lit(500)) * 20 + 100).as("Impressions"),
        concat((pmod(col("id"), lit(80)) / 10.0).cast("string"), lit("%")).as("CTR"),
        (pmod(col("id"), lit(95)) / 10.0 + 1.0).as("Position"))
      .repartition(8).write.mode("overwrite").option("header", "true").csv(s"$dir/gsc")
    spark.range(n).select(
        concat(lit("/products/p"), pmod(col("id"), lit(700000L)), lit("?sku=1"))
          .as("Page path + query string"),
        pmod(col("id"), lit(300)).as("Users"), pmod(col("id"), lit(400)).as("Sessions"),
        pmod(col("id"), lit(200)).as("Engaged sessions"),
        (pmod(col("id"), lit(900)) / 10.0).as("Average engagement time"),
        pmod(col("id"), lit(7)).as("Conversions"))
      .repartition(8).write.mode("overwrite").option("header", "true").csv(s"$dir/ga4")
    val cfg = Pipeline.PipelineConfig(
      frogPath = s"$dir/frog", gscPath = s"$dir/gsc", ga4Path = s"$dir/ga4",
      siteBase = "https://www.acme-store.com")
    import GraftSession.noop
    try {
      // stage the parquet copies for the plan-only phase UNTIMED, before
      // any measurement, so every timed phase runs back-to-back
      val sources = Seq(cfg.frogPath, cfg.gscPath, cfg.ga4Path)
      sources.foreach { p =>
        graft.ingest.Sources.loadTable(spark, p)
          .write.mode("overwrite").parquet(s"${p}_pq")
      }
      def runFull(): Unit = noop(Pipeline.merged(spark, cfg))
      def runCsv(): Unit =
        sources.foreach(p => noop(graft.ingest.Sources.loadTable(spark, p)))
      // plan-only: the identical merge plan from the staged copies.
      // The staged parquet is tiny (~40 MB per source compressed) — at the
      // default 128 MB maxPartitionBytes the whole scan packs into ONE split
      // and the map side serializes, which is a small-file artifact, not the
      // plan's cost. Scope a split size that parallelizes the scan the way
      // any real multi-split read would.
      def runMerge(): Unit = {
        val savedSplit = spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
        try noop(Pipeline.mergedFrom(spark, cfg,
          Pipeline.loadFrogFrom(spark.read.parquet(s"${cfg.frogPath}_pq"), cfg),
          Pipeline.loadGscFrom(spark.read.parquet(s"${cfg.gscPath}_pq"), cfg),
          Pipeline.loadGa4From(spark.read.parquet(s"${cfg.ga4Path}_pq"), cfg)))
        finally spark.conf.set("spark.sql.files.maxPartitionBytes", savedSplit)
      }
      // one DISCARDED warmup round (codegen/footers/JIT), then PipeIters
      // measured rounds, each timing the phases back-to-back so every full
      // sample carries its own adjacent attribution evidence
      System.gc()
      timedReleased(spark)(runCsv()); timedReleased(spark)(runMerge())
      timedReleased(spark)(runFull())
      timedReleased(spark)(canaries.runCpu()); timedReleased(spark)(canaries.runIo())
      (1 to PipeIters).map { _ =>
        System.gc()
        val csv = timedReleased(spark)(runCsv())
        val merge = timedReleased(spark)(runMerge())
        // GC time inside the full window, plus what the adjacent phases
        // left resident at its start (storage bytes the release is about to
        // drop, heap in use): a burst whose gc_sec ≈ its overshoot is GC
        // pressure; one with neither is scheduler-side
        val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
        val heapMb = {
          val rt = Runtime.getRuntime
          (rt.totalMemory - rt.freeMemory) / (1024 * 1024)
        }
        val gc0 = gcMillis()
        val (full, fullRan) = GraftSession.ran(spark)(timedReleased(spark)(runFull()))
        val gcSec = (gcMillis() - gc0) / 1000.0
        val canary = timedReleased(spark)(canaries.runCpu())
        val ioc = timedReleased(spark)(canaries.runIo())
        PipeSample(csv, merge, full, canary, gcSec, cachedBytes, heapMb, ioc, Some(fullRan))
      }
    } finally { // ~3×1M-row temp CSVs + parquet stages; don't leak them past the measurement
      FileUtils.deleteDirectory(new java.io.File(dir))
      if (stage.isEmpty) canaries.cleanup() // self-staged ⇒ self-cleaned
    }
  }

  /** Skew join three ways, measured (SURVEY §4.4): lineitem rows
    * (×2 exploded) mapped onto a hot key carrying ~97.5% of the data, joined
    * to a 16-rows-per-key dimension and hash-aggregated (broadcast disabled —
    * the regime where skew matters is a dim too big to broadcast).
    *  1. "unsalted": shuffle join, AQE skew split OFF — the naive plan;
    *  2. "salted": the explicit SkewJoin.saltedJoin operator, same confs —
    *     the tool for skew known ahead of time or joins AQE can't rewrite;
    *  3. "aqe": the same unsalted join with AQE's runtime skew split ON —
    *     the first-line fix, reported so the salting comparison is honest
    *     about what the engine already handles. Measured: aqe ≈ unsalted
    *     here, because the hot partition (tens of MB at sf0.1) sits below
    *     AQE's skewedPartitionThresholdInBytes (256 MB default) — the
    *     "skew is real but under the knobs" case, which is exactly the
    *     regime where the explicit salt (~3×) is the right tool.
    */
  def skewBench(spark: SparkSession, sfDir: String): (Double, Double, Double) = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    // ~97.5% of big-side rows land on key 0; the dimension carries 16 rows
    // per key, so the join multiplies the hot reducer's output ~16×, and the
    // post-join projection is CPU-bound (string build + hash per row) — the
    // work concentrates where the skew is (the reduce side), in a form that
    // parallelizes with cores rather than saturating memory bandwidth
    val big = li.select(
        when(pmod(xxhash64(col("l_orderkey")), lit(40)) < 39, 0L)
          .otherwise(pmod(xxhash64(col("l_orderkey"), lit(7L)), lit(996)) + 1).as("k"),
        col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("long").as("vc"))
      .withColumn("rep", explode(sequence(lit(1), lit(2))))
    val small = spark.range(0, 997L * 16)
      .select((col("id") % 997).as("k"), (col("id") % 13).as("w"))
    def agg(j: DataFrame): DataFrame =
      j.agg(sum(pmod(xxhash64(repeat(concat_ws(",", col("vc"), col("w")), 8)), lit(1000000007L))).as("s"))
    val conf = spark.conf
    val savedSkew = conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
    val savedBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      System.gc()
      val unsalted = GraftSession.timedMedian(spark, Iters)(
        GraftSession.noop(agg(big.join(small, Seq("k")))))
      System.gc()
      val salted = GraftSession.timedMedian(spark, Iters)(GraftSession.noop(agg(
        graft.ops.SkewJoin.saltedJoin(big, small, "k",
          saltFrom = col("l_partkey") * 17 + col("rep"), n = 32))))
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      System.gc()
      val aqe = GraftSession.timedMedian(spark, Iters)(
        GraftSession.noop(agg(big.join(small, Seq("k")))))
      (unsalted, salted, aqe)
    } finally {
      conf.set("spark.sql.adaptive.skewJoin.enabled", savedSkew)
      conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
    }
  }
}
