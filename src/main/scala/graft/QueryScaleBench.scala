package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.bench.History

/** Per-query scale proof (round-4 verdict ask #8): fit t ~ n^k for named
  * queries across a 10× data step and print the exponent. Two rungs:
  *
  *  - `sf0.01 → sf0.1`: the driver's own generated data — real content,
  *    every query eligible.
  *  - `sf0.1 → sf1x` (flag `--sf1`): no sf1 testdata exists, so the
  *    relational tables (lineitem/orders/part/supplier/customer) are
  *    replicated 10× into a temp dir with all join keys shifted per
  *    replica — row counts AND key cardinalities scale 10× while group
  *    cardinalities (returnflag etc.) stay fixed, exactly how TPC-H SF
  *    scaling behaves. Content tables (documents/embeddings) are
  *    GENERATED at 10× cardinality by [[CorpusGen]], which extends the
  *    shipped corpus's own measured law (vocabulary, length and dup-rate
  *    distributions) — byte-identical replication would synthesize a
  *    pathological 100%-duplicate corpus, and omitting them (rounds 4-5)
  *    left the content queries without a true sf1 exponent (round-5
  *    verdict ask #5).
  *
  * k ≈ 1.0 means per-row work (scan/hash-agg/hash-join) dominates — the
  * plan rides to more data by adding partitions; k substantially above 1
  * flags a super-linear stage (a pair blowup, a sort that stopped
  * fitting, a broadcast tipping over) to audit in PLANS.md.
  *
  * FLOOR CORRECTION (round-10 verdict task #5): every measured run pays
  * a fixed session cost — job launch, DAG scheduling, noop-sink commit —
  * of ~0.2 s, independent of data volume. For a query whose lo-rung
  * median is sub-second the floor is a large FRACTION of t₁ but a small
  * one of t₂, so the raw exponent UNDERSTATES the asymptote. The floor
  * is measured in-session (median noop write of a 1-row range) and a
  * corrected exponent `kc = log((t₂−floor)/(t₁−floor))/log 10` is
  * reported beside raw `k`; when a rung sits within 50 ms of the floor
  * the subtraction is noise-dominated and kc prints `na` (the honest
  * answer — that rung measured overhead, not the operator).
  *
  * Usage: `runMain graft.QueryScaleBench [--sf1] [--out=path] q74_pagerank ...`
  * or `--all` for the ENTIRE registered surface (round-9 verdict task
  * #2: exponents existed only for the r9 batches; the fleet table in
  * PLANS.md is regenerated from `--all --out=...`), or `--top=N` for the
  * N most expensive queries by the last bench artifact's medians
  * (bench_out.json) — the round-10 task-#5 ask to widen the sf1x rung
  * from top-20 to top-50 without hand-listing names. `--out` appends one
  * tab-separated line per query (name, step, lo, hi, k, kc) so the sweep
  * survives a partial run.
  */
object QueryScaleBench {

  /** Per-replica key offset: far above any sf0.1 key (orders ~150k) yet
    * small enough that 9 replicas stay inside Int if a key column is
    * 32-bit (the shifted value is cast back to the column's dtype).
    */
  private val KeyOffset = 10000000L

  private val KeyCols = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "customer" -> Seq("c_custkey"),
    // events: 10× the fleet (event ids and user ids shift per replica)
    // over the SAME time range — the "user base grew, period fixed"
    // scale-up, which preserves per-window event-time density semantics
    // for the windowed/streaming-twin queries (round-11: the top-50 rung
    // pulled in 6 events-table queries the top-20 never touched)
    "events" -> Seq("event_id", "user_id"))

  /** 10× replicate the relational tables from `src` into `dst`, shifting
    * every join key by replica·offset so FK relationships hold within
    * each replica and never collide across replicas.
    */
  def replicateRelational(s: SparkSession, src: String, dst: String,
      copies: Int = 10): Unit =
    for ((t, keys) <- KeyCols) {
      val df = s.read.parquet(s"$src/$t.parquet")
      val rep = df.withColumn("_r", explode(sequence(lit(0), lit(copies - 1))))
      val shifted = keys.foldLeft(rep) { (d, k) =>
        d.withColumn(k,
          (col(k).cast("long") + col("_r").cast("long") * KeyOffset)
            .cast(df.schema(k).dataType))
      }.drop("_r")
      shifted.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

  /** The N most expensive registered queries by the last full bench
    * artifact's per-query medians (`bench_out.json` — written by every
    * [[Bench]] run). Lets the sf1x rung target "top-50 by cost" without
    * hand-maintaining a name list.
    */
  private def topByCost(n: Int): Seq[String] = {
    val medians = History.artifactMedians()
    require(medians.nonEmpty,
      s"--top=N needs a readable ${History.ArtifactPath} (run graft.Bench first)")
    medians.filter { case (k, v) => v >= 0 && SparkEntry.queries.contains(k) }
      .sortBy(-_._2).take(n).map(_._1)
  }

  def main(args: Array[String]): Unit = {
    val sf1 = args.contains("--sf1")
    val out = args.collectFirst { case a if a.startsWith("--out=") => a.drop(6) }
    val topN = args.collectFirst { case a if a.startsWith("--top=") => a.drop(6).toInt }
    val names =
      if (topN.isDefined) topByCost(topN.get)
      else if (args.contains("--all")) SparkEntry.queries.keys.toSeq.sorted
      else args.filterNot(_.startsWith("--")).toSeq
    require(names.nonEmpty,
      "usage: QueryScaleBench [--sf1] [--all | --top=N] [--out=p] <queryName>...")
    val spark = GraftSession.local()
    val staged =
      if (sf1) Some(java.nio.file.Files.createTempDirectory("graft_sf1x").toFile)
      else None
    try measure(spark, names, out, staged.map(_.toString))
    finally staged.foreach(FileUtils.deleteDirectory)
    spark.stop()
  }

  /** Times `names` on both rungs; `sf1Dir` receives the 10× rung. */
  private def measure(spark: SparkSession, names: Seq[String], out: Option[String],
      sf1Dir: Option[String]): Unit = {
    def timeAt(name: String, dir: String): Double = {
      System.gc()
      GraftSession.timedMedian(spark, 3)(GraftSession.runQuery(spark, name, dir))
    }

    val (loDir, hiDir, step) = sf1Dir match {
      case Some(tmp) =>
        println(s"replicating relational tables 10x into $tmp ...")
        replicateRelational(spark, "/root/testdata/sf0.1", tmp)
        println(s"generating 10x content tables into $tmp ...")
        CorpusGen.writeContent(spark, tmp)
        ("/root/testdata/sf0.1", tmp, "sf0.1->sf1x")
      case None => ("/root/testdata/sf0.01", "/root/testdata/sf0.1", "sf0.01->sf0.1")
    }

    // warmup both dirs through the first query
    try timeAt(names.head, loDir) catch { case _: Throwable => }
    // measured fixed session floor: the cost of a data-free measured run
    val floor = {
      System.gc()
      GraftSession.timedMedian(spark, 3)(GraftSession.noop(spark.range(1).toDF()))
    }
    println(f"session floor (1-row noop run): $floor%.3f s")
    for (n <- names) {
      try {
        val t1 = timeAt(n, loDir)
        val t2 = timeAt(n, hiDir)
        val k = math.log(t2 / t1) / math.log(10.0)
        // floor-corrected exponent; na when a rung is floor-dominated
        val kc =
          if (t1 - floor > 0.05 && t2 - floor > 0.05)
            f"${math.log((t2 - floor) / (t1 - floor)) / math.log(10.0)}%.3f"
          else "na"
        println(f"$n%-28s $step: lo=$t1%6.2f s  hi=$t2%6.2f s  k=$k%.2f  kc=$kc")
        out.foreach { p =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
            f"$n\t$step\t$t1%.3f\t$t2%.3f\t$k%.3f\t$kc%n",
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        }
      } catch { case e: Throwable =>
        println(s"$n FAILED: ${e.toString.takeWhile(_ != '\n')}")
      }
    }
  }
}
