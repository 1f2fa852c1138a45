package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Physical-cost audit (`runMain graft.ShuffleAudit <query ...>
  * [--dirs=d1,d2]`): runs each named query to the noop sink at each SF
  * dir while a SparkListener accumulates executor metrics, then prints
  * per-(query, dir) BYTES — shuffle write, shuffle read, input, memory/
  * disk spill — plus task time, and the cross-dir growth factors.
  *
  * Wall clock measures this host; bytes through the shuffle measure the
  * PLAN. At 1000 executors the shuffle-byte curve (not the local
  * seconds) decides whether a query rides a 100× scale-up, so the PLANS
  * evidence for an exponent audit should quote both: t~n^k from
  * QueryScaleBench and bytes~n^k from here. A query whose wall clock
  * creeps but whose shuffle bytes grow linearly is floor/host noise; a
  * query whose shuffle bytes grow super-linearly is a real candidate
  * blowup no matter what the clock says.
  */
object ShuffleAudit {

  final class MetricsAcc extends SparkListener {
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    /** records through the shuffle write — bytes are COMPRESSED, so a
      * rung whose replicas carry higher-entropy keys (key-shifted
      * replication: partkeys ~9×10⁷ vs ~2×10⁴) inflates bytes-per-row
      * without any extra rows; the record count is the
      * compression-invariant fan evidence (round-18, verdict task #7 —
      * this metric resolved q107's 13.3× bytes as 10.0× records). */
    val shuffleRecords = new AtomicLong
    val input = new AtomicLong
    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
    val taskTimeMs = new AtomicLong
    /** attempts NOT counted (failed, or a later attempt of an
      * already-counted stage) — a nonzero value means this sample saw
      * retries and should be flagged, not silently inflated.
      */
    val skippedAttempts = new AtomicLong
    private val counted =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def reset(): Unit = {
      Seq(shuffleWrite, shuffleRead, shuffleRecords, input, memSpill,
        diskSpill, taskTimeMs, skippedAttempts).foreach(_.set(0L))
      counted.clear()
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val info = sc.stageInfo
      val m = info.taskMetrics
      // count each stage ONCE, from its first successful attempt — a
      // retried stage otherwise double-counts its shuffle/input bytes
      // and skews the cross-dir growth factors this tool exists to report
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

  def main(args: Array[String]): Unit = {
    val qs = args.filterNot(_.startsWith("--")).toSeq
    require(qs.nonEmpty,
      "usage: ShuffleAudit <query ...> [--dirs=d1,d2 | --sf1x-content | --sf1x-full]")
    // --sf1x-content: audit the sf0.1 → 10× rung for CONTENT-table
    // queries by synthesizing the same sf1x corpus QueryScaleBench uses
    // (documents/embeddings only — no relational replication), so the
    // bytes-growth claim for the capped-pair-index family is measured at
    // the rung where bucket caps are supposed to saturate.
    // --sf1x-full additionally 10×-replicates the relational tables
    // (QueryScaleBench's key-shifted replication) and copies the tiny
    // dimension tables, so the rung also covers the lineitem co-purchase
    // graph family (q107/q128/q150/q316 — round-16 verdict task #4: the
    // q464 lesson says their sf0.01→sf0.1 exponents are not sufficient
    // evidence either).
    val sf1xFull = args.contains("--sf1x-full")
    val sf1x = args.contains("--sf1x-content") || sf1xFull
    // --no-broadcast: disable broadcast joins on BOTH legs. A small-SF
    // leg whose frames sit under the broadcast threshold ships them as
    // broadcasts (zero shuffle records) while the 10× leg crosses the
    // threshold into sort-merge — the BASELINE then undercounts and the
    // growth factor reads super-linear with a perfectly linear plan
    // (round-18, verdict task #7: q107 read 13.2× records on a graph
    // with measured-identical degree distribution; with broadcasts off
    // both legs shuffle the same stages and the factor is the plan's).
    val noBroadcast = args.contains("--no-broadcast")
    val dirs = args.find(_.startsWith("--dirs="))
      .map(_.stripPrefix("--dirs=").split(',').toSeq)
      .getOrElse(Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1"))
    val spark = GraftSession.local()
    val staged =
      if (sf1x) Some(java.nio.file.Files.createTempDirectory("graft_audit_sf1x").toFile)
      else None
    // writes the 10× rung into `dir`; returns the (sf0.1, 10×) dir pair
    def stage(dir: java.io.File): Seq[String] = {
      val tmp = dir.toString
      println(s"generating 10x content tables into $tmp ...")
      CorpusGen.writeContent(spark, tmp)
      if (sf1xFull) {
        println(s"replicating relational tables 10x into $tmp ...")
        QueryScaleBench.replicateRelational(spark, "/root/testdata/sf0.1", tmp)
        Seq("region", "nation").foreach { t =>
          spark.read.parquet(s"/root/testdata/sf0.1/$t.parquet")
            .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
        }
      }
      Seq("/root/testdata/sf0.1", tmp)
    }
    try audit(spark, qs, staged.fold(dirs)(stage), noBroadcast)
    finally staged.foreach(FileUtils.deleteDirectory)
    spark.stop()
  }

  private def audit(spark: SparkSession, qs: Seq[String], effDirs: Seq[String],
      noBroadcast: Boolean): Unit = {
    if (noBroadcast) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    val acc = new MetricsAcc
    spark.sparkContext.addSparkListener(acc)
    def mb(x: Long): String = f"${x / 1048576.0}%.1f"
    val rows = for (q <- qs) yield q -> (for (d <- effDirs) yield {
      GraftSession.release(spark); acc.reset()
      GraftSession.runQuery(spark, q, d)
      org.apache.spark.graft.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      val r = Map(
        "shufW" -> acc.shuffleWrite.get, "shufR" -> acc.shuffleRead.get,
        "shufRec" -> acc.shuffleRecords.get,
        "input" -> acc.input.get, "memSpill" -> acc.memSpill.get,
        "diskSpill" -> acc.diskSpill.get, "taskMs" -> acc.taskTimeMs.get)
      val retryNote =
        if (acc.skippedAttempts.get > 0)
          s" [${acc.skippedAttempts.get} retried/failed stage attempts excluded]"
        else ""
      println(f"$q%-30s $d  shufW=${mb(r("shufW"))}MB shufR=${mb(r("shufR"))}MB " +
        f"shufRec=${r("shufRec")} input=${mb(r("input"))}MB spillMem=${mb(r("memSpill"))}MB " +
        f"spillDisk=${mb(r("diskSpill"))}MB taskTime=${r("taskMs")}ms$retryNote")
      d -> r
    })
    rows.foreach { case (q, perDir) =>
      perDir.sliding(2).foreach {
        case Seq((d1, a), (d2, b)) =>
          def g(k: String) =
            if (a(k) == 0L) "na" else f"${b(k).toDouble / a(k)}%.2f"
          println(s"growth $q $d1 -> $d2: " +
            s"shufW=${g("shufW")} shufR=${g("shufR")} shufRec=${g("shufRec")} " +
            s"input=${g("input")} taskTime=${g("taskMs")}")
        case _ =>
      }
    }
  }
}
