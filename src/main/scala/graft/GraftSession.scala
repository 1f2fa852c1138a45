package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The local session every `main` runs in, and the release-and-time
  * discipline every benchmark applies to its samples.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else this host's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts parquet encodings vary by generator (NANOS vs MICROS);
      // nanosAsLong keeps NANOS readable as LONG, and Tables.toLongNanos
      // folds every encoding to canonical long nanos at the scan.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // With `graft.checkpoint.dir` set (at runtime), core.Ckpt writes every
      // fixpoint round and every Pipeline.run fan-out there as a reliable
      // checkpoint. The ContextCleaner deletes a checkpoint's files once its
      // RDD is unreachable only with this on, and Spark reads it once, when
      // the context starts; local checkpoints ignore it, so it is always on.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")

  def local(cpus: Int = GraftSession.cpus): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drop everything a prior run may have left resident: the SQL cache AND
    * every persisted RDD. Each `localCheckpoint` in an iterative operator
    * (and the frame `Pipeline.run` returns) eagerly materializes a
    * MEMORY_AND_DISK RDD that `clearCache()` never touches; left to the
    * GC-driven ContextCleaner these pile up across a session (q74
    * measured 19.3 s in session position vs 5.8 s clean).
    * Safe only in a program that owns its session: every measured run
    * re-executes its plan from scratch, but a test suite sharing the
    * session would lose other suites' live checkpoints.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Seconds of one run of `f`, started from a released session. */
  def timedReleased(spark: SparkSession)(f: => Unit): Double = {
    release(spark)
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** `n` runs of `f`, each timed from a released session. */
  def timedSamples(spark: SparkSession, n: Int)(f: => Unit): Seq[Double] =
    (1 to n).map(_ => timedReleased(spark)(f))

  /** Median seconds of `n` released runs of `f`. */
  def timedMedian(spark: SparkSession, n: Int)(f: => Unit): Double =
    stats(timedSamples(spark, n)(f))._2

  /** What a body ran: its Spark jobs, the stages among them that scan
    * files (a `FileScanRDD` in the stage: a CSV parse or a header read; a
    * stage over checkpointed blocks has none), and the classes Spark's
    * code generator compiled in this JVM meanwhile. */
  final case class Ran(jobs: Int, fileScans: Int, compiles: Long)

  /** `f`'s result and what it [[Ran]], its jobs and scans counted by a
    * listener from the jobs this thread submits. A sentinel job submitted
    * after `f` is seen last by the (ordered) listener bus, so every job
    * and stage of `f` has been counted once the sentinel arrives. */
  def ran[A](spark: SparkSession)(f: => A): (A, Ran) = {
    val tag = "graft.ran"
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    def tagOf(p: java.util.Properties) = Option(p).flatMap(q => Option(q.getProperty(tag)))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = tagOf(e.properties) match {
        case Some(`id`) => jobs.incrementAndGet()
        case Some(t) if t == s"$id-end" => sentinel.countDown()
        case _ =>
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagOf(e.properties).contains(id) && e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scans.incrementAndGet()
    }
    val outer = sc.getLocalProperty(tag)
    sc.addSparkListener(listener)
    try {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      sc.setLocalProperty(tag, id)
      val out = f
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      sc.setLocalProperty(tag, s"$id-end")
      sc.parallelize(Seq(1), 1).count()
      require(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      (out, Ran(jobs.get, scans.get, compiles))
    } finally {
      sc.setLocalProperty(tag, outer)
      sc.removeSparkListener(listener)
    }
  }

  /** Materializes `df` fully: a bare count() can shortcut to metadata for
    * scan-only plans, the `noop` sink cannot. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One run of the registered query `name` over `dir` into the noop sink. */
  def runQuery(spark: SparkSession, name: String, dir: String): Unit =
    noop(SparkEntry.queries(name)(spark, dir))

  /** (min, median, max); an even-length sample reports its upper middle. */
  def stats(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    (s.head, s(s.size / 2), s.last)
  }

  /** How costs grew from a low rung to a high rung holding `step` times its
    * data. For timed rungs, `k` fits t ~ n^k to the wall seconds and `kc`
    * fits it to the seconds above a fixed per-run `floor` (None when either
    * rung is within 50 ms of the floor: that rung timed overhead, not work).
    * Each counter grows by its factor hi/lo, None where lo is 0.
    */
  final case class Growth(k: Option[Double], kc: Option[Double],
      factors: Seq[(String, Option[Double])]) {
    override def toString: String = {
      def f2(x: Option[Double]) = x.fold("na")(v => f"$v%.2f")
      (k.toSeq.flatMap(v => Seq(f"k=$v%.2f", s"kc=${f2(kc)}")) ++
        factors.map { case (n, f) => s"$n=${f2(f)}" }).mkString(" ")
    }
  }

  /** [[Growth]] of the (name, lo, hi) `counters` and the (lo, hi) wall `secs`. */
  def growth(counters: Seq[(String, Double, Double)], step: Double = 10.0,
      secs: Option[(Double, Double)] = None, floor: Double = 0.0): Growth = {
    def k(lo: Double, hi: Double) = math.log(hi / lo) / math.log(step)
    Growth(secs.map { case (lo, hi) => k(lo, hi) },
      secs.collect { case (lo, hi) if lo - floor > 0.05 && hi - floor > 0.05 =>
        k(lo - floor, hi - floor) },
      counters.map { case (n, lo, hi) => n -> Option.when(lo != 0)(hi / lo) })
  }
}
