package graft

/** Ad-hoc per-query benchmark: `runMain graft.SpotBench q13_... q14_...`
  * times each named query (3 runs, median, noop sink, released session) at
  * SPARK_GRAFT_SF_DIR — the iterate-fast complement to the full Bench.
  * `skew` runs [[Bench.skewBench]] alone. `pipeline [rows ...]` (default
  * 1000000) runs [[Bench.pipelineBench]] alone at each size, in this fresh
  * JVM (`run / fork := true`): it prints every instrumented sample as one
  * JSON line followed by a line with the Spark jobs, file scans and
  * codegen compiles of that sample's `full` phase, each size's medians, and the exponent of t ~ n^k between
  * consecutive sizes. Each size generates its CSVs into a temp dir through
  * the unchanged Pipeline.merged; k near 1.0 means per-row work dominates.
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
      val sizes = if (args.length > 1) args.tail.map(_.toLong).toSeq else Seq(1000000L)
      val medians = sizes.map { n =>
        System.gc()
        // one JSON line per measured round, then the medians
        val samples = Bench.pipelineBench(spark, n)
        samples.zipWithIndex.foreach { case (s, i) =>
          println(s"""{"rows":$n,"i":$i,${s.fields}}""")
          s.fullRan.foreach(r => println(s"pipeline rows=$n i=$i full: jobs=${r.jobs} " +
            s"file_scans=${r.fileScans} codegen_compiles=${r.compiles}"))
        }
        def med(f: Bench.PipeSample => Double) = GraftSession.stats(samples.map(f))._2
        println(f"pipeline rows=$n%d median=${med(_.full)}%.2f sec  csv_scan=${med(_.csv)}%.2f  " +
          f"merge_from_parquet=${med(_.merge)}%.2f  canary=${med(_.canary)}%.2f")
        n -> med(_.full)
      }
      medians.zip(medians.drop(1)).foreach { case ((n1, t1), (n2, t2)) =>
        val k = GraftSession.growth(Nil, n2.toDouble / n1, Some((t1, t2))).k.get
        println(f"scaling exponent $n1%d -> $n2%d: k=$k%.2f (1.0 = linear)")
      }
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
