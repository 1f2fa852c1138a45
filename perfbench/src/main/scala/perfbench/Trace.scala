package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One timed interval around a call into a layer. `parent` is -1 for the
  * root span of a pass; every span of a pass carries its pass id. */
final case class Span(id: Int, name: String, parent: Int, pass: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Executor-side work attributed to one span, summed from listener events. */
final class Work {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleBytes, shuffleRecords, spillBytes = 0L
  var inputBytes, inputRecords = 0L
  var ckptBlocks, ckptBytes = 0L

  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    ckptBlocks += o.ckptBlocks; ckptBytes += o.ckptBytes
    this
  }
}

/** Span recorder. The untraced form runs bodies as they are. */
sealed trait Trace {
  def span[T](name: String)(body: => T): T
  def on: Boolean
}

object Trace {
  object Off extends Trace {
    def span[T](name: String)(body: => T): T = body
    def on = false
  }
}

/** Records spans in memory and, as a `SparkListener`, attributes every job,
  * stage, task and stored block to the span that was open when its job was
  * submitted (through a local property that Spark copies into each job).
  * Checkpoint blocks are the RDD blocks written by `localCheckpoint` /
  * `checkpoint` stages, which is how `core.Ckpt` materializes. */
final class Tracer(sc: SparkContext) extends SparkListener with Trace {
  import Tracer.SpanKey

  def on = true

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private var passId = -1
  @volatile private var passRoot = -1

  private val work = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobStartNs = mutable.HashMap.empty[Int, Long]
  /** (start, end) of every finished job, on the span clock. */
  private val jobBusy = mutable.ArrayBuffer.empty[(Long, Long)]
  private val ckptRdds = mutable.HashMap.empty[Int, Int]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var stored = 0L
  private var storedPeak = 0L

  // listener timestamps are wall-clock millis; spans use nanoTime
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def toSpanClock(ms: Long): Long = ms * 1000000L - clockOffsetNs

  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = open.headOption.getOrElse(-1)
    val prev = sc.getLocalProperty(SpanKey)
    open = id :: open
    sc.setLocalProperty(SpanKey, id.toString)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanKey, prev)
      synchronized { spans += Span(id, name, parent, passId, start, end) }
    }
  }

  /** Runs one traced pass under a root span named "pass". Listener events
    * are drained before returning, so [[passWork]] is complete. */
  def pass[T](id: Int)(body: => T): T = {
    passId = id
    synchronized { storedPeak = stored }
    sc.addSparkListener(this)
    try span("pass") {
      passRoot = synchronized(nextId)
      body
    } finally {
      BusBridge.drain(sc)
      sc.removeSparkListener(this)
      passRoot = -1
    }
  }

  private def workOf(span: Int): Work = work.getOrElseUpdate(span, new Work)
  private def spanOfJob(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(passRoot)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOfJob(e.properties)
    jobSpan(e.jobId) = s
    jobStartNs(e.jobId) = toSpanClock(e.time)
    workOf(s).jobs += 1
    e.stageIds.foreach(st => if (!stageSpan.contains(st)) stageSpan(st) = s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartNs.remove(e.jobId).foreach(st => jobBusy += ((st, toSpanClock(e.time))))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    if (info.name.startsWith("localCheckpoint at") || info.name.startsWith("checkpoint at")) {
      val s = stageSpan.getOrElse(info.stageId, passRoot)
      info.rddInfos.filter(_.storageLevel.isValid).foreach(r => ckptRdds(r.id) = s)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    workOf(stageSpan.getOrElse(e.stageInfo.stageId, passRoot)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = workOf(stageSpan.getOrElse(e.stageId, passRoot))
    w.tasks += 1
    if (!e.taskInfo.successful) w.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      w.spillBytes += m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      w.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    val key = info.blockId.name
    val before = blockBytes.getOrElse(key, 0L)
    if (size == 0L) blockBytes.remove(key) else blockBytes(key) = size
    stored += size - before
    storedPeak = math.max(storedPeak, stored)
    info.blockId match {
      case RDDBlockId(rdd, _) if before == 0L && size > 0L =>
        ckptRdds.get(rdd).foreach { s =>
          val w = workOf(s)
          w.ckptBlocks += 1
          w.ckptBytes += size
        }
      case _ =>
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def spansOf(pass: Int): Seq[Span] = allSpans.filter(_.pass == pass)
  def storedPeakBytes: Long = synchronized(storedPeak)

  /** Work of one span, or of a span and all of its descendants. */
  def workIn(span: Int, descendants: Boolean, of: Seq[Span]): Work = synchronized {
    val ids =
      if (!descendants) Set(span)
      else {
        val kids = of.groupBy(_.parent)
        def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
        walk(span).toSet
      }
    ids.foldLeft(new Work)((acc, id) => work.get(id).fold(acc)(acc.add))
  }

  def passWork(pass: Int): Work = {
    val of = spansOf(pass)
    of.find(_.parent == -1).fold(new Work)(root => workIn(root.id, descendants = true, of))
  }

  /** Seconds of `[from, to]` during which at least one job was running. */
  def busySeconds(from: Long, to: Long): Double = synchronized {
    val clipped = jobBusy.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e9
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfSeconds(s: Span, of: Seq[Span]): Double =
    s.seconds - of.filter(_.parent == s.id).map(_.seconds).sum

  /** Spans as JSON lines (written once, when the run ends). */
  def spansJson: Iterator[String] = allSpans.iterator.map { s =>
    val w = workIn(s.id, descendants = false, Nil)
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${w.jobs},"tasks":${w.tasks},""" +
      s""""task_ms":${w.taskMs},"shuffle_records":${w.shuffleRecords},"spill_bytes":${w.spillBytes},""" +
      s""""input_bytes":${w.inputBytes},"ckpt_blocks":${w.ckptBlocks}}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Problems with span nesting: every parent exists in the same pass and
    * encloses its children. Empty when the spans nest. */
  def nestingErrors(spans: Seq[Span]): Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.flatMap { s =>
      if (s.parent == -1) None
      else byId.get(s.parent) match {
        case None => Some(s"span ${s.id} (${s.name}) has no parent ${s.parent}")
        case Some(p) if p.pass != s.pass => Some(s"span ${s.id} (${s.name}) crosses passes")
        case Some(p) if s.startNs < p.startNs || s.endNs > p.endNs =>
          Some(s"span ${s.id} (${s.name}) leaves parent ${p.id} (${p.name})")
        case _ => None
      }
    }
  }
}
