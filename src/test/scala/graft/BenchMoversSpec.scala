package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.PipeSample
import graft.bench.Movers

/** The bench's verdict policy at its edges: the mover trigger, the
  * sub-threshold band, fresh-JVM statuses, the movers discount and the
  * pipeline-sample attribution.
  */
class BenchMoversSpec extends AnyFunSuite {

  test("isMove: beyond 1.5x in either direction, with the larger side at the 0.5 s floor") {
    assert(Movers.isMove(1.6, 1.0))
    assert(Movers.isMove(1.0, 1.6))
    assert(!Movers.isMove(1.5, 1.0), "exactly 1.5x is not a move")
    assert(!Movers.isMove(1.0, 1.5))
    assert(Movers.isMove(0.5, 0.2), "larger side exactly at the floor")
    assert(Movers.isMove(0.2, 0.5))
    assert(!Movers.isMove(0.49, 0.2), "2.45x under the floor is noise")
    assert(!Movers.isMove(0.2, 0.49))
    assert(!Movers.isMove(2.0, -1.0), "no previous median")
    assert(!Movers.isMove(2.0, 0.0))
  }

  test("band: [1.25, 1.5) either way, with the larger side at the floor") {
    assert(Movers.inBand(1.25, 1.0))
    assert(Movers.inBand(1.0, 1.25))
    assert(Movers.inBand(1.49, 1.0))
    assert(!Movers.inBand(1.24, 1.0))
    assert(!Movers.inBand(1.5, 1.0), "1.5x is neither band nor move")
    assert(!Movers.inBand(0.4, 0.3), "1.33x under the floor")
    assert(Movers.bandRatio(1.0, 2.0) == 2.0)
    assert(Movers.bandRatio(-1.0, 1.0) == -1.0)
    assert(Movers.bandRatio(1.0, -1.0) == -1.0)
  }

  test("bandSample: in-band non-movers only, capped, in a seeded order") {
    val prev = (1 to 20).map(i => s"q$i" -> 1.0).toMap
    val cur = (1 to 12).map(i => s"q$i" -> 1.3) ++
      Seq("q13" -> 1.1, "q14" -> 2.0, "q15" -> -1.0, "q99" -> 1.3)
    val s = Movers.bandSample(cur, prev, movers = Set("q1"))
    assert(s.size == Movers.BandSampleN)
    assert(s.toSet.subsetOf((2 to 12).map(i => s"q$i").toSet))
    assert(Movers.bandSample(cur, prev, Set("q1")) == s, "same previous medians, same sample")
  }

  test("mover status from the fresh-JVM median") {
    assert(Movers.moverStatus(1.0, 2.0) == "confirmed")
    assert(Movers.moverStatus(2.0, 1.0) == "confirmed")
    assert(Movers.moverStatus(1.0, 1.1) == "phantom")
    assert(Movers.moverStatus(1.0, -1.0) == "unconfirmed")
  }

  test("band status from the fresh-JVM median") {
    assert(Movers.bandStatus(1.0, 1.25) == "confirmed")
    assert(Movers.bandStatus(1.3, 1.0) == "confirmed")
    assert(Movers.bandStatus(1.0, 1.2) == "host")
    assert(Movers.bandStatus(1.0, -1.0) == "unconfirmed")
  }

  test("movers_discounted: rolling factors first, host_factor only when both are -1") {
    def d(cpu: Double, io: Double, host: Double) = Movers.discounted(cpu, io, host)
    assert(d(1.3, -1.0, -1.0))
    assert(d(-1.0, 1.3, -1.0))
    assert(d(1.0, 1.3, 1.0))
    assert(!d(1.29, 1.29, -1.0))
    assert(!d(1.0, 1.0, 2.0), "a rolling factor is available: host_factor is ignored")
    assert(!d(1.0, -1.0, 2.0))
    assert(!d(-1.0, 1.0, 2.0))
    assert(d(-1.0, -1.0, 1.3))
    assert(d(-1.0, -1.0, 1.0 / 1.3), "a much faster host discounts too")
    assert(!d(-1.0, -1.0, 0.8))
    assert(!d(-1.0, -1.0, 1.0))
    assert(!d(-1.0, -1.0, -1.0))
  }

  test("pipeline verdict: ok up to 1.35x the phase sum; host when a probe co-inflates 1.5x") {
    val ok = PipeSample(csv = 1.0, merge = 1.0, full = 2.7, canary = 1.0)
    val hostCanary = PipeSample(1.0, 1.0, 2.8, canary = 1.5)
    val isolated = PipeSample(1.0, 1.0, 2.8, canary = 1.4)
    val hostSum = PipeSample(1.5, 1.5, 4.2, canary = 1.0)
    assert(ok.fullOverSum == 1.35)
    assert(Movers.pipeVerdicts(Seq(ok, hostCanary, isolated, hostSum)) ==
      Seq("ok", "host", "isolated", "host"))
    assert(Movers.pipeVerdicts(Seq.empty).isEmpty)
    assert(PipeSample(0.0, 0.0, 1.0, 1.0).fullOverSum == -1.0)
  }

  test("pipeline sample fields keep the artifact's keys and precision") {
    val s = PipeSample(1.0, 2.0, 3.5, 0.25, gcSec = 0.1, cachedBytes = 7L, heapMb = 9L, ioc = 0.5)
    assert(s.fields == """"csv":1.000,"merge":2.000,"full":3.500,"canary":0.250,""" +
      """"io_canary":0.500,"full_over_sum":1.17,"gc_sec":0.100,"cached_bytes":7,"heap_mb":9""")
  }
}
