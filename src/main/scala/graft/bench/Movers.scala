package graft.bench

import graft.Bench.PipeSample

/** The bench's verdict policy: which queries moved against the previous
  * run, what the fresh-JVM fork says about them, when the host discounts
  * the movers, and how each pipeline sample's residual is attributed.
  * Every threshold is named once, here.
  */
object Movers {

  /** A median that moved more than this in either direction is a mover. */
  val MoveRatio = 1.5
  /** Below this, on the larger side of a comparison, a ±2× swing is the
    * host's noise floor, not a signal. */
  val FloorSec = 0.5
  /** Lower edge of the sub-threshold band [BandRatio, MoveRatio): host noise
    * and real creep look alike there, so a sample of it rides the fork. */
  val BandRatio = 1.25
  /** A canary factor this far from 1 discounts the movers map. */
  val DiscountFactor = 1.3
  /** A pipeline sample holds its contract when full ≤ this × (csv + merge). */
  val FullOverSumOk = 1.35
  /** An adjacent probe this far above the run's best round co-inflated. */
  val CoInflation = 1.5

  /** Fork cap: the fork costs JVM + session startup (~20 s) plus warmup and
    * n=3 per query, and phantom pollution concentrates in the slow movers. */
  val MaxMoverConfirm = 20
  /** Band members sampled into the same fork each run. */
  val BandSampleN = 8

  def isMove(cur: Double, prev: Double): Boolean =
    prev > 0 && math.max(prev, cur) >= FloorSec &&
      (cur / prev > MoveRatio || prev / cur > MoveRatio)

  /** max(cur/prev, prev/cur); -1 when either side is unavailable. */
  def bandRatio(cur: Double, prev: Double): Double =
    if (prev > 0 && cur > 0) math.max(cur / prev, prev / cur) else -1.0

  def inBand(cur: Double, prev: Double): Boolean = {
    val r = bandRatio(cur, prev)
    r >= BandRatio && r < MoveRatio && math.max(prev, cur) >= FloorSec
  }

  /** Non-mover queries drifting inside the band, `BandSampleN` of them in an
    * order seeded by the previous medians: stable within a round, different
    * across rounds.
    */
  def bandSample(cur: Seq[(String, Double)], prev: Map[String, Double],
      movers: Set[String]): Seq[String] = {
    val candidates = cur.collect { case (k, c)
      if c >= 0 && !movers(k) && prev.get(k).exists(inBand(c, _)) => k }
    new scala.util.Random(prev.toSeq.sortBy(_._1).hashCode)
      .shuffle(candidates.sorted).take(BandSampleN)
  }

  /** A mover still moving in the fresh JVM is confirmed, one that is not
    * was a phantom of the aged JVM or the contention window; fresh < 0
    * means the fork gave no number.
    */
  def moverStatus(prev: Double, fresh: Double): String =
    if (fresh < 0) "unconfirmed" else if (isMove(fresh, prev)) "confirmed" else "phantom"

  /** A band member whose drift survives the fresh JVM is confirmed; one
    * whose drift evaporates there was the host. */
  def bandStatus(prev: Double, fresh: Double): String =
    if (fresh < 0) "unconfirmed" else if (bandRatio(fresh, prev) >= BandRatio) "confirmed" else "host"

  /** Read the movers map through this flag: a rolling canary factor at or
    * above [[DiscountFactor]] means this run's host was slow. With neither
    * rolling factor available, the single-previous-artifact `hostFactor`
    * decides, in either direction.
    */
  def discounted(cpuFactor: Double, ioFactor: Double, hostFactor: Double): Boolean =
    cpuFactor >= DiscountFactor || ioFactor >= DiscountFactor ||
      (cpuFactor < 0 && ioFactor < 0 && hostFactor > 0 &&
        (hostFactor >= DiscountFactor || hostFactor <= 1.0 / DiscountFactor))

  /** Per-sample attribution of the pipeline's `full` time, from probes
    * taken seconds apart in the same round:
    *  - "ok": full ≤ [[FullOverSumOk]] × (csv + merge);
    *  - "host": full overshoots and this round's canary or phase sum
    *    co-inflates to ≥ [[CoInflation]] × the run's best round;
    *  - "isolated": full overshoots with normal adjacent probes, a burst
    *    confined to the full window. Not a plan regression: the same plan
    *    held the contract in the rounds labeled "ok".
    */
  def pipeVerdicts(samples: Seq[PipeSample]): Seq[String] =
    if (samples.isEmpty) Seq.empty
    else {
      val baseSum = samples.map(_.phaseSum).min
      val baseCanary = samples.map(_.canary).min
      samples.map { s =>
        val ratio = s.fullOverSum
        if (ratio >= 0 && ratio <= FullOverSumOk) "ok"
        else if (s.canary >= CoInflation * baseCanary || s.phaseSum >= CoInflation * baseSum) "host"
        else "isolated"
      }
    }
}
