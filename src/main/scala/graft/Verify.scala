package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round-14 hardening (CORRECTNESS_r13's q402 adjudication):
  *  - every result is written through a deterministic final sort (all
  *    columns, name order), so the file's row layout is identical across
  *    runs / CPU counts / machines — a driver hash can never diverge on
  *    row order;
  *  - a `digests.json` sidecar records, per query, a canonical
  *    order-independent sha256 of the rows as actually written (read
  *    back from the parquet, not recomputed from the plan) plus the row
  *    count. When a driver row goes red while local runs pass, diff the
  *    digests instead of inferring: same digest ⇒ the bytes the driver
  *    hashed are the bytes that pass locally ⇒ the divergence is in the
  *    comparator (e.g. r13's HUGEINT→float64 oracle column), not the
  *    data. `tools/check_oracle.py` recomputes and cross-checks the
  *    digest with the same canonicalization.
  */
object Verify {

  /** Canonical cell encoding shared (by contract) with
    * tools/check_oracle.py: engine- and language-neutral, so a Python
    * recompute over the same parquet yields the same digest. Doubles and
    * floats canonicalize to raw IEEE-754 bits (hex), timestamps to epoch
    * micros, dates to ISO strings, decimals to plain strings, binary to
    * hex; NULL is a sentinel no string value can collide with. */
  def canonCell(v: Any): String = v match {
    case null => "\u0000NULL"
    case b: Boolean => if (b) "true" else "false"
    // doubleToLongBits canonicalizes every NaN to 0x7ff8000000000000; the
    // Python mirror (canon_cell) must do the same, not struct.pack the
    // raw payload bits.
    case d: Double => "f:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: Float => "f:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(f.toDouble))
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      "t:" + (i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case d: java.sql.Date => "d:" + d.toString
    case d: java.math.BigDecimal => "n:" + d.stripTrailingZeros.toPlainString
    case b: Array[Byte] => "x:" + b.map(x => f"$x%02x").mkString
    case n: Number => "i:" + n.toString
    case s: String => "s:" + s
    case other => "o:" + other.toString
  }

  /** Order-independent digest: columns sorted by name, rows rendered with
    * unit separators, row strings sorted, sha256 over the sorted list. */
  def digest(df: DataFrame): (String, Long) = {
    val cols = df.columns.sorted
    val sel = df.select(cols.map(c => df.col(s"`$c`")): _*)
    val rows = sel.collect()
    val rendered = rows.map(r => (0 until r.length).map(i => canonCell(r.get(i))).mkString("\u001f"))
    digestRendered(rendered)
  }

  /** Shared tail of the digest: sort rendered rows by their UTF-8 bytes
    * (unsigned lexicographic — the ONE ordering Java and Python agree on;
    * Java's String sort is UTF-16 code-unit order, which diverges from
    * Python's code-point order for supplementary-plane chars vs
    * U+E000–U+FFFF), then sha256. Split out so DigestParitySpec can feed
    * the fixed cross-language vector. */
  def digestRendered(rendered: Array[String]): (String, Long) = {
    val bytes = rendered.map(_.getBytes("UTF-8"))
    java.util.Arrays.sort(bytes, (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    bytes.foreach { s => md.update(s); md.update('\n'.toByte) }
    (md.digest().map(b => f"$b%02x").mkString, rendered.length.toLong)
  }

  /** Deterministic row layout: sort by every column (name order) so
    * repeated runs write byte-stable row sequences regardless of task
    * scheduling; the driver sorts before hashing anyway, this removes
    * the one degree of freedom it might not. If a query emits an
    * unorderable column (MapType), fall back to the unsorted frame
    * instead of dropping the query from the dump — the digest is
    * order-independent, only byte-stability of the file is lost. */
  def stableSorted(df: DataFrame, name: String): DataFrame =
    try {
      val s = df.sort(df.columns.sorted.map(c => df.col(s"`$c`")): _*)
      s.queryExecution.analyzed // force analysis so unorderable types fail HERE
      s
    } catch {
      case _: org.apache.spark.sql.AnalysisException =>
        System.err.println(s"[verify] $name: all-column sort unplannable; writing unsorted")
        df
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (local iteration only;
    // the driver always runs the full set)
    val only = args.lift(2).map(_.split(',').toSet)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val digests = scala.collection.mutable.LinkedHashMap[String, (String, Long)]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val sorted = stableSorted(df, name)
        sorted.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // digest what was actually written, not the plan's recompute
        digests(name) = digest(spark.read.parquet(s"$outDir/$name"))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSqlFor(sfDir)
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val digJson = digests
      .map { case (k, (h, n)) => s"${q(k)}: {\"sha256\": ${q(h)}, \"rows\": $n}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/digests.json"), digJson)
    spark.stop()
  }
}
