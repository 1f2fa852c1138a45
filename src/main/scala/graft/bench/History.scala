package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}

import scala.util.control.NonFatal

import org.json4s._

/** Everything earlier bench runs leave behind, read in one place: the
  * rolling canary ledger (`canary_history.json`), the previous run's
  * artifact (`bench_out.json`) and the fresh-JVM fork's output. Every
  * number in them goes through one decoder, [[num]].
  */
object History {

  /** The canary ledger: per-run canary medians, cpu = the constant-CSV
    * parse canary, io = the constant parquet scan + shuffle canary.
    * Factors compare against a floor of the last [[HistoryWindow]]
    * same-sf entries, so one contended run can never invert the discount
    * logic the way a single-previous-artifact comparison can.
    */
  val HistoryPath = "canary_history.json"
  val HistoryKeep = 40
  val HistoryWindow = 10

  /** The previous run's full artifact. */
  val ArtifactPath = "bench_out.json"

  /** Ledger entries as (sf, cpu, io), oldest first, plus the per-sf
    * all-time (cpu, io) minima. The all-time floor sits beside the rolling
    * window so a long degraded streak cannot reset the bar: after 10
    * contended runs the window's floor inherits the degradation, the
    * all-time floor does not. Absent or invalid numbers read -1.
    */
  final case class Ledger(entries: Seq[(String, Double, Double)],
      alltime: Map[String, (Double, Double)]) {

    /** Same-sf (cpu, io) medians, oldest first. */
    def of(sf: String): Seq[(Double, Double)] =
      entries.collect { case (s, c, i) if s == sf => (c, i) }

    /** This ledger after one more run: the newest [[HistoryKeep]] entries,
      * and per sf the min over positives of the previous all-time floor and
      * every surviving entry (-1 when none). A ledger written before the
      * all-time floor existed seeds it from its entries here. The new entry
      * is kept at the file's 4-decimal precision, so the result equals what
      * a re-read of the written file gives.
      */
    def appended(sf: String, cpu: Double, io: Double): Ledger = {
      def round4(d: Double): Double = f"$d%.4f".toDouble
      val all = (entries :+ ((sf, round4(cpu), round4(io)))).takeRight(HistoryKeep)
      def mn(vals: Seq[Double]): Double = {
        val p = vals.filter(_ > 0); if (p.isEmpty) -1.0 else p.min
      }
      Ledger(all, (all.map(_._1) ++ alltime.keys).distinct.map { s =>
        val ofSf = all.filter(_._1 == s)
        s -> ((mn(ofSf.map(_._2) ++ alltime.get(s).map(_._1)),
               mn(ofSf.map(_._3) ++ alltime.get(s).map(_._2))))
      }.toMap)
    }

    def json: String = {
      val es = entries.map { case (s, c, i) => f"""{"sf":"$s","cpu":$c%.4f,"io":$i%.4f}""" }
      val at = alltime.toSeq.sortBy(_._1).map { case (s, (c, i)) =>
        f""""$s":{"cpu":$c%.4f,"io":$i%.4f}"""
      }
      s"""{"entries":${es.mkString("[", ",", "]")},"alltime":${at.mkString("{", ",", "}")}}\n"""
    }
  }

  val EmptyLedger = Ledger(Seq.empty, Map.empty)

  /** The ledger at `path`, parsed once; a missing file is empty, and an
    * unreadable one warns once on stderr and reads as empty (a silent
    * reset of the rolling window would go unnoticed).
    */
  def read(path: String = HistoryPath): Ledger = readJson(path).fold(EmptyLedger) { j =>
    val entries = j \ "entries" match {
      case JArray(xs) => xs.flatMap { e =>
        e \ "sf" match {
          case JString(s) => Some((s, num(e \ "cpu"), num(e \ "io")))
          case _ => None
        }
      }
      case _ => Seq.empty
    }
    val alltime = j \ "alltime" match {
      case JObject(fields) => fields.map { case (sf, o) => sf -> ((num(o \ "cpu"), num(o \ "io"))) }.toMap
      case _ => Map.empty[String, (Double, Double)]
    }
    Ledger(entries, alltime)
  }

  /** Writes `ledger` to `path` through a temp file and an atomic move (an
    * in-place overwrite that crashes mid-write corrupts the ledger).
    * Returns false, after naming the path on stderr, when it cannot.
    */
  def write(ledger: Ledger, path: String = HistoryPath): Boolean = {
    var tmp: Path = null
    try {
      val target = Paths.get(path)
      val dir = Option(target.toAbsolutePath.getParent).getOrElse(Paths.get("."))
      tmp = Files.createTempFile(dir, ".canary_history", ".tmp")
      Files.write(tmp, ledger.json.getBytes(UTF_8))
      try Files.move(tmp, target, REPLACE_EXISTING, ATOMIC_MOVE)
      catch { case _: AtomicMoveNotSupportedException =>
        Files.move(tmp, target, REPLACE_EXISTING)
      }
      true
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] WARNING: canary ledger append to $path FAILED ($e)")
      false
    } finally if (tmp != null) // a throw before the move would leak the temp file
      try Files.deleteIfExists(tmp) catch { case NonFatal(_) => }
  }

  def readHistoryAll(path: String = HistoryPath): Seq[(String, Double, Double)] = read(path).entries
  def readHistory(sf: String, path: String = HistoryPath): Seq[(Double, Double)] = read(path).of(sf)
  def readAlltime(path: String = HistoryPath): Map[String, (Double, Double)] = read(path).alltime

  /** Appends one run's canary medians; false when the ledger cannot be written. */
  def appendHistory(sf: String, cpu: Double, io: Double, path: String = HistoryPath): Boolean =
    write(read(path).appended(sf, cpu, io), path)

  /** Robust floor of the last [[HistoryWindow]] positive entries: with ≥ 4
    * entries the SECOND-lowest, so one spuriously fast entry (a partially
    * cached canary run) cannot inflate every factor for the next
    * [[HistoryWindow]] runs, while two independent fast runs still lower
    * the bar; smaller windows keep the min. -1 when there is none.
    */
  def robustFloor(past: Seq[Double]): Double = {
    val w = past.filter(_ > 0).takeRight(HistoryWindow).sorted
    if (w.isEmpty) -1.0
    else if (w.size >= 4) w(1)
    else w.head
  }

  /** cur vs the [[robustFloor]] of `past`; -1 when either side is unavailable. */
  def rollFactor(cur: Double, past: Seq[Double]): Double = {
    val f = robustFloor(past)
    if (cur > 0 && f > 0) cur / f else -1.0
  }

  /** (cpu, io) rolling factors of one canary sample against same-sf history. */
  def factors(cpu: Double, io: Double, hist: Seq[(Double, Double)]): (Double, Double) =
    (rollFactor(cpu, hist.map(_._1)), rollFactor(io, hist.map(_._2)))

  /** The rolling factors of the canary-series sample at `idx` (the last one
    * taken before a query's accepted measurement); -1 when there is none.
    */
  def seriesFactors(series: Seq[(String, Double, Double)], idx: Int,
      hist: Seq[(Double, Double)]): (Double, Double) =
    if (idx >= 0 && idx < series.size) factors(series(idx)._2, series(idx)._3, hist)
    else (-1.0, -1.0)

  /** Pre-flight host factor of one canary: the larger of the rolling factor
    * and cur over the all-time floor. A long degraded streak inflates the
    * window floor but never the all-time one, so the max is the
    * conservative reading. -1 when neither side is available.
    */
  def preflightFactor(cur: Double, hist: Seq[Double], alltime: Option[Double]): Double = {
    val af = alltime.filter(_ > 0) match {
      case Some(f) if cur > 0 => cur / f
      case _ => -1.0
    }
    math.max(rollFactor(cur, hist), af)
  }

  /** The previous artifact as this run compares against it. `medians` is
    * empty unless that run used the same sf AND the same core count (an
    * artifact with no `cpus` field predates the check and counts as
    * incomparable): medians from another core count flag half the fleet as
    * movers. `names` is every query it measured, comparable or not, so an
    * incomparable artifact cannot make the whole registry "new". `canary`
    * is its CPU canary median (-1 when absent): sf-invariant by
    * construction, so kept across sf, but not core-count-invariant, so
    * kept only from the same cpus — a local[8] canary read by a local[4]
    * run reads as a 2-3x slower host.
    */
  final case class Prev(medians: Map[String, Double], names: Set[String], canary: Double)

  def readPrev(sf: String, cpus: Int, path: String = ArtifactPath): Prev =
    readJson(path).fold(Prev(Map.empty, Set.empty, -1.0)) { j =>
      def is(field: String, want: String) = j \ field match {
        case JString(s) => s == want
        case _ => false
      }
      val sameSf = is("sf", sf)
      val sameCpus = is("cpus", cpus.toString)
      val all = medians(j).toMap
      if (all.nonEmpty && !(sameSf && sameCpus))
        System.err.println(s"[bench] prev artifact incomparable (sameSf=$sameSf sameCpus=$sameCpus) - name set kept, medians ignored")
      val canary = if (sameCpus) triple(j \ "pipeline_phases" \ "canary").fold(-1.0)(_._2) else -1.0
      Prev(if (sameSf && sameCpus) all else Map.empty, all.keySet, canary)
    }

  /** The artifact's per-query medians in file order, with no comparability
    * check; empty when it is missing or unreadable.
    */
  def artifactMedians(path: String = ArtifactPath): Seq[(String, Double)] =
    readJson(path).fold(Seq.empty[(String, Double)])(medians)

  /** The fork's `{"name":[min,median,max],...}` output; None when the file
    * is missing, unparseable or not an object.
    */
  def readSpreads(path: String): Option[Map[String, (Double, Double, Double)]] =
    readJson(path).collect { case JObject(fields) =>
      fields.flatMap { case (k, v) => triple(v).map(k -> _) }.toMap
    }

  /** A JSON number as a Double; -1 for anything else. */
  private def num(j: JValue): Double = j match {
    case JDouble(v) => v
    case JInt(v) => v.toDouble
    case _ => -1.0
  }

  private def triple(j: JValue): Option[(Double, Double, Double)] = j match {
    case JArray(xs) if xs.size == 3 => Some((num(xs(0)), num(xs(1)), num(xs(2))))
    case _ => None
  }

  private def medians(j: JValue): Seq[(String, Double)] = j \ "queries" match {
    case JObject(fields) => fields.collect { case (k, v @ (_: JDouble | _: JInt)) => k -> num(v) }
    case _ => Seq.empty
  }

  /** None when `path` does not exist; a file that does not parse warns on stderr. */
  private def readJson(path: String): Option[JValue] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else try Some(jackson.JsonMethods.parse(new String(Files.readAllBytes(p), UTF_8)))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] WARNING: $path unreadable (${e.toString.takeWhile(_ != '\n')}) - read as empty")
      None
    }
  }
}
