package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

import org.apache.commons.io.FileUtils
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.bench.History
import graft.core.StagedMemo

/** Per-query scale audit: how each named query's cost grows when its data
  * grows 10×. One walk times three released runs per (query, rung) and
  * reads the executor counters of those same runs. Two rungs:
  *
  *  - `sf0.01 → sf0.1` (default): the generated data dirs.
  *  - `sf0.1 → sf1x` (`--sf1`): [[stageRung]] writes the 10× rung of sf0.1
  *    into a temp dir, deleted afterwards.
  *
  * Per rung it prints the median wall seconds and each counter's median
  * per run: shuffle bytes written and read, shuffle records, input bytes,
  * memory and disk spill, task time. Then one growth line per query
  * ([[GraftSession.growth]]). k ≈ 1.0 means per-row work (scan, hash agg,
  * hash join) dominates, so the plan rides to more data by adding
  * partitions; k well above 1 flags a super-linear stage (a pair blowup, a
  * sort that stopped fitting, a broadcast tipping over). Wall time measures
  * this host, the counters measure the plan. Shuffle bytes are compressed,
  * and the key-shifted replicas carry higher-entropy keys, so the record
  * count is the compression-invariant evidence of fan-out.
  *
  * Every measured run pays a fixed session cost (job launch, scheduling,
  * noop-sink commit) whatever its data. That floor is measured in-session
  * as a 1-row noop run; `kc` fits the exponent to the seconds above it,
  * since a sub-second low rung is mostly floor and raw `k` understates the
  * asymptote there.
  *
  * Usage: `runMain graft.QueryScaleBench [--sf1] [--all | --top=N]
  * [--out=path] [--no-broadcast] <query ...>`. `--all` audits every
  * registered query; `--top=N` the N most expensive by the last bench
  * artifact's medians. `--out` appends one tab-separated line per query
  * (name, step, lo, hi, k, kc), so a sweep survives a partial run.
  * `--no-broadcast` turns broadcast joins off on both rungs: a low rung
  * whose frames sit under the broadcast threshold shuffles nothing where
  * the high rung sort-merges, and its factors would read super-linear
  * for a linear plan.
  */
object QueryScaleBench {

  /** Per-replica key offset: far above any sf0.1 key (orders ~150k) yet
    * small enough that 9 replicas stay inside Int if a key column is
    * 32-bit (the shifted value is cast back to the column's dtype).
    */
  private val KeyOffset = 10000000L

  /** Replicated tables and their join keys. `events` grows its fleet
    * (event and user ids shift per replica) over the SAME time range, the
    * "user base grew, period fixed" scale-up that keeps per-window event
    * density for the windowed queries.
    */
  private val KeyCols = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "customer" -> Seq("c_custkey"),
    "events" -> Seq("event_id", "user_id"))

  /** Tables [[CorpusGen.writeContent]] generates. */
  private val ContentTables = Set("documents", "embeddings")

  /** Writes the 10× rung of `src` into `dst`, the way TPC-H SF scaling
    * behaves: the relational tables are replicated 10× with every join key
    * shifted by replica·offset, so row counts AND key cardinalities grow
    * 10× while FK relationships hold within each replica and group
    * cardinalities (returnflag etc.) stay fixed. The content tables are
    * generated at 10× by [[CorpusGen]], which extends the source corpus's
    * own law (a byte-identical replica would be a 100%-duplicate corpus).
    * Every other table (the nation/region dimensions) is copied as is.
    */
  def stageRung(s: SparkSession, src: String, dst: String): Unit = {
    def timed(what: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$what in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    timed("replicated the relational tables 10x") {
      for ((t, keys) <- KeyCols) {
        val df = s.read.parquet(s"$src/$t.parquet")
        val rep = df.withColumn("_r", explode(sequence(lit(0), lit(9))))
        val shifted = keys.foldLeft(rep) { (d, k) =>
          d.withColumn(k,
            (col(k).cast("long") + col("_r").cast("long") * KeyOffset)
              .cast(df.schema(k).dataType))
        }.drop("_r")
        shifted.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
    }
    timed("generated the content tables at 10x")(CorpusGen.writeContent(s, src, dst))
    val copied = new File(src).list().filter(_.endsWith(".parquet")).sorted
      .filterNot(f => (KeyCols.keySet ++ ContentTables).contains(f.stripSuffix(".parquet")))
    timed(s"copied ${copied.mkString(", ")}") {
      copied.foreach(f => FileUtils.copyToDirectory(new File(src, f), new File(dst)))
    }
  }

  /** Executor counters of the stages that complete while it listens. Each
    * stage counts once, from its first successful attempt: a retried stage
    * would otherwise double-count its bytes and skew the growth factors.
    */
  final class MetricsAcc extends SparkListener {
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleRecords = new AtomicLong
    val input = new AtomicLong
    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
    val taskTimeMs = new AtomicLong
    /** Attempts NOT counted (failed, or a later attempt of an
      * already-counted stage): nonzero means the run saw retries and is
      * flagged rather than silently inflated.
      */
    val skippedAttempts = new AtomicLong
    private val counted =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    /** The counters by their [[MetricsAcc.Names]]. */
    def values: Map[String, Long] = MetricsAcc.Names.zip(Seq(shuffleWrite, shuffleRead,
      shuffleRecords, input, memSpill, diskSpill, taskTimeMs).map(_.get)).toMap
    def reset(): Unit = {
      Seq(shuffleWrite, shuffleRead, shuffleRecords, input, memSpill,
        diskSpill, taskTimeMs, skippedAttempts).foreach(_.set(0L))
      counted.clear()
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val info = sc.stageInfo
      val m = info.taskMetrics
      if (m != null) {
        if (info.failureReason.isEmpty && counted.add(info.stageId)) {
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          input.addAndGet(m.inputMetrics.bytesRead)
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          taskTimeMs.addAndGet(m.executorRunTime)
        } else skippedAttempts.incrementAndGet()
      }
    }
  }

  object MetricsAcc {
    val Names = Seq("shufW", "shufR", "shufRec", "input", "spillMem", "spillDisk", "taskTime")
  }

  /** The counters a growth line reports: spill is 0 at most rungs. */
  private val Grown = MetricsAcc.Names.filterNot(_.startsWith("spill"))

  /** One (query, rung): median wall seconds, each counter's median per run,
    * and the stage attempts its runs left uncounted.
    */
  private final case class Rung(secs: Double, counters: Map[String, Double], retried: Long)

  /** The N most expensive registered queries by the last full bench
    * artifact's per-query medians (`bench_out.json`, written by every
    * [[Bench]] run), so the sf1x rung can target "top-50 by cost" without
    * a hand-kept name list.
    */
  private def topByCost(n: Int): Seq[String] = {
    val medians = History.artifactMedians()
    require(medians.nonEmpty,
      s"--top=N needs a readable ${History.ArtifactPath} (run graft.Bench first)")
    medians.filter { case (k, v) => v >= 0 && SparkEntry.queries.contains(k) }
      .sortBy(-_._2).take(n).map(_._1)
  }

  def main(args: Array[String]): Unit = {
    val (flags, names0) = args.toSeq.partition(_.startsWith("--"))
    val unknown = flags.filterNot(f => Set("--sf1", "--all", "--no-broadcast")(f) ||
      f.startsWith("--top=") || f.startsWith("--out="))
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(" ")}")
    val out = flags.collectFirst { case a if a.startsWith("--out=") => a.drop(6) }
    val topN = flags.collectFirst { case a if a.startsWith("--top=") => a.drop(6).toInt }
    val names =
      if (topN.isDefined) topByCost(topN.get)
      else if (flags.contains("--all")) SparkEntry.queries.keys.toSeq.sorted
      else names0
    require(names.nonEmpty, "usage: QueryScaleBench [--sf1] [--all | --top=N] " +
      "[--out=p] [--no-broadcast] <queryName>...")
    val spark = GraftSession.local()
    if (flags.contains("--no-broadcast")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    val sf01 = "/root/testdata/sf0.1"
    if (flags.contains("--sf1")) {
      val tmp = Files.createTempDirectory("graft_sf1x").toFile
      try {
        println(s"staging the 10x rung of $sf01 into $tmp ...")
        stageRung(spark, sf01, tmp.toString)
        measure(spark, names, out, "sf0.1" -> sf01, "sf1x" -> tmp.toString)
      } finally FileUtils.deleteDirectory(tmp)
    } else measure(spark, names, out, "sf0.01" -> "/root/testdata/sf0.01", "sf0.1" -> sf01)
    spark.stop()
  }

  /** Audits `names` on the (label, dir) rungs `lo` and `hi`. */
  private def measure(spark: SparkSession, names: Seq[String], out: Option[String],
      lo: (String, String), hi: (String, String)): Unit = {
    val acc = new MetricsAcc
    spark.sparkContext.addSparkListener(acc)
    def rung(name: String, label: String, dir: String): Rung = {
      System.gc()
      val runs = (1 to 3).map { _ =>
        // every run computes its plan: a staged memo would replay the frame
        // the first run wrote, and time and count a parquet scan instead
        StagedMemo.invalidate()
        acc.reset()
        val t = GraftSession.timedReleased(spark)(GraftSession.runQuery(spark, name, dir))
        ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
        (t, acc.values, acc.skippedAttempts.get)
      }
      def median(xs: Seq[Double]) = GraftSession.stats(xs)._2
      val r = Rung(median(runs.map(_._1)),
        MetricsAcc.Names.map(c => c -> median(runs.map(_._2(c).toDouble))).toMap,
        runs.map(_._3).sum)
      val shown = MetricsAcc.Names.map { c =>
        val v = r.counters(c)
        if (c == "shufRec") f"$c=$v%.0f"
        else if (c == "taskTime") f"$c=$v%.0fms"
        else f"$c=${v / 1048576}%.1fMB"
      }
      val retryNote =
        if (r.retried > 0) s" [${r.retried} retried/failed stage attempts excluded]" else ""
      println(f"$name%-28s $label%-6s wall=${r.secs}%6.2f s  ${shown.mkString(" ")}$retryNote")
      r
    }

    val step = s"${lo._1}->${hi._1}"
    // warm the session through the first query
    try GraftSession.runQuery(spark, names.head, lo._2) catch { case _: Throwable => }
    val floor = {
      System.gc()
      GraftSession.timedMedian(spark, 3)(GraftSession.noop(spark.range(1).toDF()))
    }
    println(f"session floor (1-row noop run): $floor%.3f s")
    for (n <- names) {
      try {
        val a = rung(n, lo._1, lo._2)
        val b = rung(n, hi._1, hi._2)
        val g = GraftSession.growth(Grown.map(c => (c, a.counters(c), b.counters(c))),
          secs = Some((a.secs, b.secs)), floor = floor)
        println(s"growth $n $step: $g")
        out.foreach { p =>
          Files.writeString(Paths.get(p),
            f"$n\t$step\t${a.secs}%.3f\t${b.secs}%.3f\t${g.k.get}%.3f\t" +
              g.kc.fold("na")(v => f"$v%.3f") + "\n",
            StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        }
      } catch { case e: Throwable =>
        println(s"$n FAILED: ${e.toString.takeWhile(_ != '\n')}")
      }
    }
  }
}
