package graft

/** Ad-hoc per-query benchmark: `runMain graft.SpotBench q13_... q14_...`
  * times each named query (3 runs, median, noop sink, released session) at
  * SPARK_GRAFT_SF_DIR — the iterate-fast complement to the full Bench.
  * `skew` runs [[Bench.skewBench]] alone; `pipeline` runs
  * [[Bench.pipelineBench]] alone, in this fresh JVM (`run / fork := true`),
  * and prints every instrumented sample as one JSON line.
  */
object SpotBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SpotBench <queryName>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    if (args.head == "skew") {
      val (u, s, a) = Bench.skewBench(spark, sfDir)
      println(f"skew unsalted=$u%.2f salted=$s%.2f aqe=$a%.2f ratio=${u / s}%.2f")
      spark.stop(); return
    }
    if (args.head == "pipeline") {
      // one JSON line per measured round, then the medians
      val samples = Bench.pipelineBench(spark)
      samples.zipWithIndex.foreach { case (s, i) =>
        val ratio = if (s.csv + s.merge > 0) s.full / (s.csv + s.merge) else -1.0
        println(f"""{"i":$i,"csv":${s.csv}%.3f,"merge":${s.merge}%.3f,""" +
          f""""full":${s.full}%.3f,"canary":${s.canary}%.3f,""" +
          f""""io_canary":${s.ioc}%.3f,""" +
          f""""full_over_sum":$ratio%.2f,"gc_sec":${s.gcSec}%.3f,""" +
          f""""cached_bytes":${s.cachedBytes},"heap_mb":${s.heapMb}}""")
      }
      def med(f: Bench.PipeSample => Double) = GraftSession.stats(samples.map(f))._2
      println(f"pipeline_1m=${med(_.full)}%.2f sec  csv_scan=${med(_.csv)}%.2f  " +
        f"merge_from_parquet=${med(_.merge)}%.2f  canary=${med(_.canary)}%.2f")
      spark.stop(); return
    }
    SparkEntry.queries(args.head)(spark, sfDir)
      .write.format("noop").mode("overwrite").save() // warmup
    for (n <- args) {
      val ts = (1 to 3).map { _ =>
        GraftSession.timedReleased(spark) {
          SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
      }
      println(f"$n%-30s median=${GraftSession.stats(ts)._2}%.2f  runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
