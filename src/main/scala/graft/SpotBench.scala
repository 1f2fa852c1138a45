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
      samples.zipWithIndex.foreach { case (s, i) => println(s"""{"i":$i,${s.fields}}""") }
      def med(f: Bench.PipeSample => Double) = GraftSession.stats(samples.map(f))._2
      println(f"pipeline_1m=${med(_.full)}%.2f sec  csv_scan=${med(_.csv)}%.2f  " +
        f"merge_from_parquet=${med(_.merge)}%.2f  canary=${med(_.canary)}%.2f")
      spark.stop(); return
    }
    GraftSession.runQuery(spark, args.head, sfDir) // warmup
    for (n <- args) {
      val ts = GraftSession.timedSamples(spark, 3)(GraftSession.runQuery(spark, n, sfDir))
      println(f"$n%-30s median=${GraftSession.stats(ts)._2}%.2f  runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
