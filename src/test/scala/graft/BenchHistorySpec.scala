package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.bench.History

/** The rolling canary ledger's contract (round-16 verdict task #4):
  * host factors compare against the MIN of the last N same-sf entries,
  * so one contended committed run can never invert the movers-discount
  * logic the way the single-previous-artifact host_factor did in r15
  * (final canary 0.394 "faster" vs a contended intermediate while
  * actually slower-hosted than r14).
  */
class BenchHistorySpec extends AnyFunSuite {

  private def tmpPath(): String =
    java.nio.file.Files.createTempDirectory("graft_hist")
      .resolve("canary_history.json").toString

  test("append/read round-trips, filters by sf, caps at HistoryKeep") {
    val p = tmpPath()
    assert(History.readHistory("sfA", p).isEmpty)
    History.appendHistory("sfA", 0.5, 1.2, p)
    History.appendHistory("sfB", 9.9, 9.9, p)
    History.appendHistory("sfA", 0.25, -1.0, p)
    assert(History.readHistory("sfA", p) == Seq((0.5, 1.2), (0.25, -1.0)))
    assert(History.readHistory("sfB", p) == Seq((9.9, 9.9)))
    (1 to History.HistoryKeep + 5).foreach(i => History.appendHistory("sfA", i.toDouble, -1.0, p))
    assert(History.readHistoryAll(p).size == History.HistoryKeep)
    // oldest entries were evicted, newest kept
    assert(History.readHistory("sfA", p).last._1 == (History.HistoryKeep + 5).toDouble)
  }

  test("rollFactor: vs robust floor; contended entries cannot lower the bar") {
    // a clean history around 0.22-0.25 with contended 0.56 runs mixed in —
    // the r15 shape. The factor must read vs the clean floor (0.25: the
    // 2nd-lowest with >=4 entries), so a contended entry never makes a
    // slow run look fast.
    val past = Seq(0.56, 0.25, 0.563, 0.558, 0.22)
    assert(math.abs(History.robustFloor(past) - 0.25) < 1e-9)
    assert(math.abs(History.rollFactor(0.44, past) - 0.44 / 0.25) < 1e-9)
    // a contended CURRENT run reads >= 1.3 (discount fires)
    assert(History.rollFactor(0.56, past) >= 1.3)
    // unavailable sides
    assert(History.rollFactor(-1.0, past) == -1.0)
    assert(History.rollFactor(0.5, Seq.empty) == -1.0)
    assert(History.rollFactor(0.5, Seq(-1.0)) == -1.0)
    // window: only the last HistoryWindow entries count — an ancient
    // fast host outside the window must not poison the bar forever
    val old = Seq(0.01, 0.01) ++ Seq.fill(History.HistoryWindow)(0.5)
    assert(History.rollFactor(0.5, old) == 1.0)
  }

  test("robustFloor: one spuriously fast entry cannot set the bar") {
    // round-16 ADVICE: a single partially-cached canary sample (0.05 in a
    // 0.25 window) inflated every subsequent factor >= 1.3 and flipped
    // movers_discounted for HistoryWindow runs. With >= 4 entries the
    // floor is the 2nd-lowest, so the outlier is inert...
    val spiked = Seq(0.26, 0.05, 0.25, 0.24, 0.27)
    assert(math.abs(History.robustFloor(spiked) - 0.24) < 1e-9)
    assert(History.rollFactor(0.26, spiked) < 1.3)
    // ...but TWO independent fast runs still lower it (a genuinely
    // faster host is not an outlier)
    val faster = Seq(0.26, 0.12, 0.125, 0.25, 0.27)
    assert(math.abs(History.robustFloor(faster) - 0.125) < 1e-9)
    // small windows keep the min: not enough mass to call anything an
    // outlier
    assert(math.abs(History.robustFloor(Seq(0.3, 0.1, 0.2)) - 0.1) < 1e-9)
    assert(History.robustFloor(Seq.empty) == -1.0)
  }

  test("alltime floor is sticky: entry eviction and degraded streaks cannot reset it") {
    val p = tmpPath()
    assert(History.readAlltime(p).isEmpty)
    History.appendHistory("sfA", 0.2, 0.8, p)
    History.appendHistory("sfA", 0.5, 0.4, p)
    // per-dimension minima, not per-entry
    assert(History.readAlltime(p)("sfA") == ((0.2, 0.4)))
    // a degraded streak long enough to evict the fast entries from the
    // rolling window must NOT move the all-time floor (verdict task #3:
    // the 2nd-lowest-of-window floor inherits the degradation after 10
    // bad runs; this floor is the backstop)
    (1 to History.HistoryKeep + 5).foreach(_ => History.appendHistory("sfA", 0.9, 0.9, p))
    assert(History.readHistoryAll(p).forall(_._2 == 0.9), "fast entries evicted")
    assert(History.readAlltime(p)("sfA") == ((0.2, 0.4)), "floor survives eviction")
    // negative (unavailable) samples never become the floor
    History.appendHistory("sfB", -1.0, -1.0, p)
    assert(History.readAlltime(p)("sfB") == ((-1.0, -1.0)))
    History.appendHistory("sfB", 0.3, 0.6, p)
    assert(History.readAlltime(p)("sfB") == ((0.3, 0.6)))
    // pre-round-18 ledger without an alltime object: floor seeds from
    // the surviving entries on the next append
    val legacy = tmpPath()
    java.nio.file.Files.write(java.nio.file.Paths.get(legacy),
      """{"entries":[{"sf":"sfA","cpu":0.15,"io":0.45}]}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(History.readAlltime(legacy).isEmpty)
    History.appendHistory("sfA", 0.3, 0.3, legacy)
    assert(History.readAlltime(legacy)("sfA") == ((0.15, 0.3)))
  }

  test("corrupt ledger reads as empty, never throws") {
    val p = tmpPath()
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      "{not json".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(History.readHistoryAll(p).isEmpty)
    // append over a corrupt file recovers
    History.appendHistory("sfA", 1.0, 2.0, p)
    assert(History.readHistory("sfA", p) == Seq((1.0, 2.0)))
  }

  test("a failed append returns false, does not throw, and leaves the ledger unchanged") {
    val parent = java.nio.file.Files.createTempFile("graft_hist", ".file")
    java.nio.file.Files.write(parent, "x".getBytes(UTF_8))
    val p = parent.resolve("canary_history.json").toString
    assert(!History.appendHistory("sfA", 1.0, 2.0, p))
    assert(History.readHistoryAll(p).isEmpty)
    assert(new String(java.nio.file.Files.readAllBytes(parent), UTF_8) == "x")
  }

  test("one read of a corrupt ledger warns once") {
    val p = tmpPath()
    java.nio.file.Files.write(java.nio.file.Paths.get(p), "{not json".getBytes(UTF_8))
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val ledger = try History.read(p) finally System.setErr(saved)
    assert(ledger == History.EmptyLedger)
    assert(err.toString("UTF-8").linesIterator.count(_.contains(p)) == 1)
  }

  test("preflightFactor: the max of the rolling and all-time factors; -1 sides drop out") {
    val hist = Seq(0.2, 0.2, 0.2, 0.2)
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9
    assert(near(History.preflightFactor(0.4, hist, Some(0.1)), 4.0)) // all-time floor is lower
    assert(near(History.preflightFactor(0.4, hist, Some(0.8)), 2.0)) // rolling floor is lower
    assert(near(History.preflightFactor(0.4, hist, None), 2.0))
    assert(near(History.preflightFactor(0.4, hist, Some(-1.0)), 2.0))
    assert(near(History.preflightFactor(0.4, Seq.empty, Some(0.1)), 4.0))
    assert(History.preflightFactor(0.4, Seq.empty, None) == -1.0)
    assert(History.preflightFactor(-1.0, hist, Some(0.1)) == -1.0)
  }

  test("seriesFactors: the sample at the query's index against the ledger; -1 without one") {
    val hist = Seq((0.2, 1.0), (0.2, 1.0))
    val series = Seq(("fp:0", 0.2, 1.0), ("fp:50", 0.4, 3.0))
    assert(History.seriesFactors(series, 1, hist) == ((2.0, 3.0)))
    assert(History.seriesFactors(series, 0, hist) == ((1.0, 1.0)))
    assert(History.seriesFactors(series, -1, hist) == ((-1.0, -1.0)))
    assert(History.seriesFactors(series, 2, hist) == ((-1.0, -1.0)))
    assert(History.seriesFactors(series, 1, Seq.empty) == ((-1.0, -1.0)))
  }

  private def artifact(body: String): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_prev").resolve("bench_out.json")
    java.nio.file.Files.write(p, body.getBytes(UTF_8))
    p.toString
  }

  test("prev artifact: medians only from the same sf and cpus; names and canary always") {
    val body = """"queries":{"q1":1.5,"q2":2,"q3":-1.0},"pipeline_phases":{"canary":[0.1,0.3,0.5]}"""
    val names = Set("q1", "q2", "q3")
    val same = artifact(s"""{$body,"cpus":"4","sf":"sfA"}""")
    assert(History.readPrev("sfA", 4, same) ==
      History.Prev(Map("q1" -> 1.5, "q2" -> 2.0, "q3" -> -1.0), names, 0.3))
    // the canary is sf-invariant but not core-count-invariant: kept across
    // sf, dropped across cpus (a local[8] canary makes local[4] look 2-3x slow)
    assert(History.readPrev("sfB", 4, same) == History.Prev(Map.empty, names, 0.3))
    assert(History.readPrev("sfA", 8, same) == History.Prev(Map.empty, names, -1.0))
    assert(History.readPrev("sfB", 8, same) == History.Prev(Map.empty, names, -1.0))
    val noCpus = artifact(s"""{$body,"sf":"sfA"}""")
    assert(History.readPrev("sfA", 4, noCpus) == History.Prev(Map.empty, names, -1.0))
    // file order, no gate
    assert(History.artifactMedians(noCpus) == Seq("q1" -> 1.5, "q2" -> 2.0, "q3" -> -1.0))
  }

  test("prev artifact: a missing or corrupt file gives empty results") {
    val none = History.Prev(Map.empty, Set.empty, -1.0)
    val missing = java.nio.file.Files.createTempDirectory("graft_prev").resolve("bench_out.json").toString
    assert(History.readPrev("sfA", 4, missing) == none)
    assert(History.artifactMedians(missing).isEmpty)
    val corrupt = artifact("""{"queries":{"q1":""")
    assert(History.readPrev("sfA", 4, corrupt) == none)
    assert(History.artifactMedians(corrupt).isEmpty)
  }

  test("fork output: [min, median, max] per query; anything but an object is None") {
    val out = artifact("""{"q1":[1,2.5,3],"q2":[-1,-1,-1],"bad":[1,2]}""")
    assert(History.readSpreads(out).contains(Map("q1" -> ((1.0, 2.5, 3.0)), "q2" -> ((-1.0, -1.0, -1.0)))))
    assert(History.readSpreads(artifact("[1,2,3]")).isEmpty)
    assert(History.readSpreads(artifact("{truncated")).isEmpty)
  }
}
