package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per JVM, closed loop, one client.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --data <dir>
  *
  * Prints a human-readable report and, as its last stdout line, one JSON
  * object: `correct`, `attempted`, `failed` and `metrics`. With `--trace 0`
  * the metrics are [[Runner.EndToEnd]]; with `--trace 1` they are
  * [[Runner.PerLayer]].
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 12.0,
      trace: Boolean = false, work: String = ".bench_build/work", data: String = "")

  def parse(argv: Array[String]): Opts = argv.grouped(2).foldLeft(Opts()) {
    case (o, Array("--workload", v)) => o.copy(workload = v)
    case (o, Array("--seed", v)) => o.copy(seed = v.toLong)
    case (o, Array("--seconds", v)) => o.copy(seconds = v.toDouble)
    case (o, Array("--trace", v)) => o.copy(trace = v == "1")
    case (o, Array("--work", v)) => o.copy(work = v)
    case (o, Array("--data", v)) => o.copy(data = v)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    require(Workloads.Names.contains(o.workload),
      s"unknown workload '${o.workload}' (one of ${Workloads.Names.mkString(", ")})")
    val work = Paths.get(o.work).toAbsolutePath.resolve(o.workload)
    val spark = Session.create(work)
    try {
      val sf = Workloads.RegistrySf
      val wl = Workloads.create(o.workload, spark, work, o.seed, s"${o.data}/$sf",
        Workloads.pinnedDigests(s"tools/digests_$sf.json"))
      val r = Runner.run(spark, wl, o.seconds, o.trace, o.seed, work)
      r.report.foreach(println)
      println(r.json)
    } finally spark.stop()
  }
}

/** The session every workload runs in: `local[4]`, four shuffle partitions,
  * UTC, no UI, scratch space under the work directory. */
object Session {
  def create(work: Path): SparkSession = {
    Files.createDirectories(work)
    val s = SparkSession.builder()
      .master(s"local[${Runner.Cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Runner.Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Setup, the timed closed loop, output checks and metrics. */
object Runner {
  val Cores = 4
  val MiB: Double = 1024.0 * 1024.0
  /** Input staging runs this many times in setup; setup_s uses the median. */
  val StageRepeats = 3
  /** Timed passes per run at least, however long they take: their median
    * then drops one slow pass (the warm-up trend, or a burst of steal on a
    * shared host), and the pass count cannot flip between runs. */
  val MinPasses = 3

  /** (name, unit) of the metrics printed with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "cpu_s" -> "s", "setup_s" -> "s", "heap_live_mb" -> "MiB", "ok_frac" -> "frac")

  /** (name, unit) of the metrics printed with `--trace 1`. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_cpu_s" -> "s", "spark.driver_s" -> "s",
    "spark.idle_core_frac" -> "frac", "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MiB",
    "spark.shuffle_records" -> "count", "spark.spill_mb" -> "MiB",
    "spark.storage_peak_mb" -> "MiB", "spark.failed_tasks" -> "count",
    "spark.jobs_per_query" -> "count", "spark.input_mb" -> "MiB", "spark.input_rows" -> "count",
    "core.Ckpt.blocks" -> "count", "core.Ckpt.mb" -> "MiB",
    "ext.out_rows_per_shuffle_record" -> "ratio", "queries.plan_s" -> "s",
    "queries.exec_s" -> "s", "trace.unattributed_s" -> "s", "trace.overhead_frac" -> "frac")

  final case class Sample(pass: Int, traced: Boolean, wall: Double, cpu: Double, liveBytes: Long)

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], report: Seq[String], spans: Seq[Span]) {
    def json: String = {
      val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "-1" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def heapUsed(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Drops everything a pass left resident: the SQL cache and every
    * persisted RDD, which includes `localCheckpoint` blocks. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(spark: SparkSession, wl: Workload, seconds: Double, trace: Boolean, seed: Long,
      work: Path): Result = {
    val report = ArrayBuffer.empty[String]
    def say(s: String): Unit = report += s"# $s"
    val failures = ArrayBuffer.empty[Outcome]
    var attempted = 0L
    def account(outcomes: Seq[Outcome]): Unit = {
      val failedOps = outcomes.filter(_.error.isDefined)
      failures ++= failedOps.groupBy(_.op).map(_._2.head)
    }

    // ---- setup: session (already up), staging, one discarded warm pass that
    // also runs the full output check
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val stageTimes = (1 to StageRepeats).map(_ => secondsOf(wl.stage())._2)
    wl.clean()
    val (warmOutcomes, warmS) = secondsOf(wl.warm())
    attempted += wl.ops.size
    account(warmOutcomes)
    release(spark)
    val setupS = sessionS + median(stageTimes) + warmS

    // ---- timed closed loop; with tracing, passes alternate untraced/traced.
    // Pass walls keep falling for two to three passes in a fresh JVM (JIT of
    // the engine and of generated code), hence medians over MinPasses or more.
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val samples = ArrayBuffer.empty[Sample]
    val layerRows = ArrayBuffer.empty[Seq[(String, Double, String)]]
    val workloadRows = ArrayBuffer.empty[Seq[(String, Double, String)]]
    val t0 = System.nanoTime()
    def more = samples.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds ||
      (trace && samples.count(_.traced) == 0)
    while (more) {
      val i = samples.size
      val traced = trace && i % 2 == 1
      wl.clean()
      System.gc()
      val c0 = cpuNanos()
      val w0 = System.nanoTime()
      tracer.filter(_ => traced) match {
        case Some(t) => t.pass(i)(wl.pass(t))
        case None => wl.pass(Trace.Off)
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (cpuNanos() - c0) / 1e9
      System.gc()
      val live = heapUsed()
      attempted += wl.ops.size
      account(wl.takeThrown() ++ wl.check())
      tracer.filter(_ => traced).foreach { t =>
        layerRows += layerMetrics(t, i, wl, wall)
        workloadRows += wl.layers(t, i)
      }
      release(spark)
      samples += Sample(i, traced, wall, cpu, live)
    }

    val plain = samples.filterNot(_.traced)
    val walls = plain.map(_.wall)
    say(f"workload=${wl.name} seed=$seed passes=${samples.size} (untraced ${plain.size}) " +
      f"window_s=${(System.nanoTime() - t0) / 1e9}%.2f pass walls " +
      samples.map(s => f"${s.wall}%.3f${if (s.traced) "T" else ""}").mkString("[", ", ", "]"))
    say(f"setup: session ${sessionS}%.3f s, staging median ${median(stageTimes)}%.3f s " +
      f"of ${stageTimes.map(x => f"$x%.3f").mkString("[", ", ", "]")}, warm pass $warmS%.3f s")
    failures.foreach(f => say(s"FAILED ${f.op}: ${f.error.get}"))
    val failed = failures.size.toLong
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val m = Seq(
          ("wall_s", median(walls), "s"), ("cpu_s", median(plain.map(_.cpu)), "s"),
          ("setup_s", setupS, "s"), ("heap_live_mb", plain.map(_.liveBytes).max / MiB, "MiB"),
          ("ok_frac", 1.0 - failed.toDouble / attempted, "frac"))
        val n = Map("wall_s" -> walls.size, "cpu_s" -> walls.size, "setup_s" -> 1,
          "heap_live_mb" -> walls.size, "ok_frac" -> attempted.toInt)
        m.foreach { case (k, v, u) =>
          val spread = if (k == "wall_s" || k == "cpu_s") {
            val xs = if (k == "wall_s") walls else plain.map(_.cpu)
            f" (min ${xs.min}%.3f, max ${xs.max}%.3f)"
          } else ""
          say(f"$k%-14s $v%12.4f $u%-5s n=${n(k)}$spread")
        }
        say(f"fail_frac      ${failed.toDouble / attempted}%12.4f frac  ($failed of $attempted operations)")
        m
      } else {
        val t = tracer.get
        val tracedWalls = samples.filter(_.traced).map(_.wall)
        val overhead = median(tracedWalls) / median(walls) - 1.0
        val names = PerLayer.map(_._1).filterNot(_ == "trace.overhead_frac")
        val m = names.map { n =>
          val unit = PerLayer.find(_._1 == n).get._2
          (n, median(layerRows.flatMap(_.find(_._1 == n)).map(_._2).toSeq), unit)
        } :+ (("trace.overhead_frac", overhead, "frac"))
        val lastTraced = samples.filter(_.traced).last.pass
        report ++= spanTable(t, lastTraced)
        say(f"per-layer metrics (median of ${tracedWalls.size} traced passes; " +
          f"traced wall ${median(tracedWalls)}%.3f s vs untraced ${median(walls)}%.3f s):")
        m.foreach { case (k, v, u) => say(f"  $k%-34s $v%14.4f $u") }
        say(s"${wl.name} layers (last traced pass):")
        workloadRows.last.foreach { case (k, v, u) => say(f"  $k%-34s $v%14.4f $u") }
        writeSpans(t, work.resolve(s"trace-${wl.name}-seed$seed.jsonl"))
        m
      }
    Result(correct = failed == 0, attempted, failed, metrics, report.toSeq,
      tracer.fold(Seq.empty[Span])(_.allSpans))
  }

  private def layerMetrics(t: Tracer, pass: Int, wl: Workload, wall: Double): Seq[(String, Double, String)] = {
    val of = t.spansOf(pass)
    val root = of.find(_.parent == -1).get
    val w = t.passWork(pass)
    val taskS = w.taskMs / 1000.0
    def total(name: String) = of.filter(_.name == name).map(_.seconds).sum
    Seq(
      ("spark.jobs", w.jobs.toDouble, "count"), ("spark.stages", w.stages.toDouble, "count"),
      ("spark.tasks", w.tasks.toDouble, "count"), ("spark.task_s", taskS, "s"),
      ("spark.task_cpu_s", w.cpuNs / 1e9, "s"),
      ("spark.driver_s", root.seconds - t.busySeconds(root.startNs, root.endNs), "s"),
      ("spark.idle_core_frac", 1.0 - taskS / (root.seconds * Cores), "frac"),
      ("spark.gc_s", w.gcMs / 1000.0, "s"),
      ("spark.shuffle_write_mb", w.shuffleBytes / MiB, "MiB"),
      ("spark.shuffle_records", w.shuffleRecords.toDouble, "count"),
      ("spark.spill_mb", w.spillBytes / MiB, "MiB"),
      ("spark.storage_peak_mb", t.storedPeakBytes / MiB, "MiB"),
      ("spark.failed_tasks", w.failedTasks.toDouble, "count"),
      ("spark.jobs_per_query", w.jobs.toDouble / wl.ops.size, "count"),
      ("spark.input_mb", w.inputBytes / MiB, "MiB"),
      ("spark.input_rows", w.inputRecords.toDouble, "count"),
      ("core.Ckpt.blocks", w.ckptBlocks.toDouble, "count"),
      ("core.Ckpt.mb", w.ckptBytes / MiB, "MiB"),
      ("ext.out_rows_per_shuffle_record", wl.outRows.toDouble / math.max(1L, w.shuffleRecords), "ratio"),
      ("queries.plan_s", total("plan"), "s"), ("queries.exec_s", total("exec"), "s"),
      ("trace.unattributed_s", t.selfSeconds(root, of), "s"))
  }

  /** Span tree of one pass, merged by path: count, total and self seconds,
    * and the executor work under each path. */
  private def spanTable(t: Tracer, pass: Int): Seq[String] = {
    val of = t.spansOf(pass)
    val byId = of.map(s => s.id -> s).toMap
    def path(s: Span): List[String] =
      byId.get(s.parent).fold(List(s.name))(p => path(p) :+ s.name)
    val rows = of.groupBy(path).toSeq.map { case (p, ss) =>
      val w = ss.foldLeft(new Work)((acc, s) => acc.add(t.workIn(s.id, descendants = false, of)))
      (p, ss.size, ss.map(_.seconds).sum, ss.map(t.selfSeconds(_, of)).sum, w)
    }
    val order = of.sortBy(_.startNs).map(path).distinct
    "# span tree (last traced pass): n, total s, self s, own jobs, tasks, task s, shuffle records" +:
      order.map { p =>
        val (_, n, tot, self, w) = rows.find(_._1 == p).get
        f"#   ${"  " * (p.size - 1) + p.last}%-44s $n%3d $tot%9.3f $self%9.3f ${w.jobs}%5d ${w.tasks}%6d ${w.taskMs / 1000.0}%8.3f ${w.shuffleRecords}%10d"
      }
  }

  private def writeSpans(t: Tracer, file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val w = Files.newBufferedWriter(file)
    try t.spansJson.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
