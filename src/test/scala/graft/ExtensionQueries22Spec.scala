package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{PageRank, PrefixScan}
import graft.queries.ExtensionQueries22

/** Property pins for the round-9 tenth batch (cross-engine equality is
  * the DuckDB oracle's job — these assert operator SEMANTICS: two-phase
  * prefix-scan equivalence, Gini closed form, lateness detection,
  * weighted mass splitting).
  */
class ExtensionQueries22Spec extends SparkSpecBase {

  private val sfTiny = "/root/testdata/sf0.001"

  // ------------------------------------------------ PrefixScan / q163

  test("PrefixScan: two-phase exclusive prefix max == the global-window spelling") {
    val e = graft.core.Tables.events(spark, sfTiny)
      .select(col("user_id"), col("event_id"), col("ts"))
    val twoPhase = PrefixScan
      .prefixMaxExclusive(e, "pm", 8, col("ts"), col("user_id"), col("event_id"))
      .select(col("event_id"), col("pm"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val w = Window.orderBy(col("user_id"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val global = e.withColumn("pm", max(col("ts")).over(w))
      .select(col("event_id"), col("pm"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(twoPhase.nonEmpty && twoPhase == global)
  }

  test("q163: planted backfill disorder — detection, allowance threshold, exact skew") {
    import spark.implicits._
    // user 1 replays first (ts 0 then 20 min), then user 2's file starts
    // at 8:20 — 11:40 behind the watermark, beyond the 10-min allowance
    val rows = Seq(
      (1L, 1L, 0L), (1L, 2L, 1200000000000L), (2L, 3L, 500000000000L))
    val dir = java.nio.file.Files.createTempDirectory("q163").toString
    rows.toDF("user_id", "event_id", "ts")
      .withColumn("event_type", lit("x")).withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ExtensionQueries22.q163_lateness_audit(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 3L && r.getLong(2) == 1L && r.getLong(3) == 1L,
      s"one disordered arrival, which also breaches the allowance: $r")
    assert(r.getLong(4) == 700000000L, s"skew = 20:00 - 8:20 = 700 s in µs: $r")
  }

  // -------------------------------------------------- q162 spend gini

  test("q162: hand spends 10/20/30/40 — Gini 0.25 exactly; top-1% = the max user") {
    import spark.implicits._
    val rows = (1 to 4).map { u =>
      (u.toLong, u * 1000000000L, "purchase", u * 10.0)
    }
    val dir = java.nio.file.Files.createTempDirectory("q162").toString
    rows.toDF("user_id", "ts", "event_type", "value")
      .withColumn("event_id", col("user_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = ExtensionQueries22.q162_spend_gini(spark, dir).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 100L)
    // G = (2·300 − 5·100) / (4·100) = 100/400
    assert(r.getLong(2) == 250000L, s"gini: $r")
    // ceil(4/100) = 1 top user → 40/100
    assert(r.getLong(3) == 400000L, s"top share: $r")
  }

  test("q162: perfect equality has Gini 0") {
    import spark.implicits._
    val rows = (1 to 5).map(u => (u.toLong, u * 1000000000L, "purchase", 25.0))
    val dir = java.nio.file.Files.createTempDirectory("q162b").toString
    rows.toDF("user_id", "ts", "event_type", "value")
      .withColumn("event_id", col("user_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = ExtensionQueries22.q162_spend_gini(spark, dir).collect().head
    assert(r.getLong(2) == 0L, s"equal spends → zero concentration: $r")
  }

  // -------------------------------------------- q164 weighted pagerank

  test("q164: runWeighted reproduces the hand-iterated integer recurrence; weights steer mass") {
    import spark.implicits._
    // a→c weight 9, b→c weight 1, a→b weight 1: c and b split a's mass 9:1
    val edges = Seq((1L, 3L, 9L), (1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val (init, tele, iters) = (1000000L, 150000L, 3)
    val got = PageRank.run(edges, nodes, iters, init, tele, PageRank.Weighted)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // hand-run the exact same integer recurrence
    val adj = Map(1L -> Seq((3L, 9L, 10L), (2L, 1L, 10L)), 2L -> Seq((3L, 1L, 1L)))
    var mass = Map(1L -> init, 2L -> init, 3L -> init)
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((src, outs) <- adj; (dst, w, wtot) <- outs)
        in(dst) += (mass(src) * w) / wtot
      mass = mass.keys.map(k => k -> (tele + (17L * in(k)) / 20L)).toMap
    }
    assert(got == Map(1L -> ((10L, mass(1L))), 2L -> ((1L, mass(2L))),
      3L -> ((0L, mass(3L)))), s"got=$got expected mass=$mass")
    // the 9:1 split must leave c strictly heavier than b
    assert(got(3L)._2 > got(2L)._2)
  }
}
