package graft.ingest

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.SchemaMemo

/** Robust tabular sources (SURVEY §2 A1/A2/A3/A4/A9): all-string CSV reads
  * with the reference's fallback ladder — plain parse first; if the result is
  * a single (mangled) column, re-read with comment filtering and a sniffed
  * delimiter. Excel dispatches by extension to the in-repo readers: `.xlsx`
  * via the StAX OOXML parser ([[Xlsx]]), legacy `.xls` via the CFB+BIFF8
  * parser ([[Biff]]).
  */
object Sources {

  /** Driver-side delimiter sniff over the first non-comment KB (streamed —
    * never loads the file into memory).
    */
  def sniffDelimiter(path: String): String = {
    val in = Files.newInputStream(Paths.get(path))
    val buf = new Array[Byte](2048)
    val n = try in.read(buf) finally in.close()
    val head = new String(buf, 0, math.max(n, 0), java.nio.charset.StandardCharsets.UTF_8)
    val line = head.linesIterator.filterNot(_.startsWith("#")).take(1).toList.headOption.getOrElse("")
    Seq(",", ";", "\t", "|").maxBy(d => line.count(_.toString == d))
  }

  /** All-string CSV read (no type inference — progressive coercion is the
    * engine's type discipline, SURVEY §1.2). The header is read once per
    * file identity and option set ([[SchemaMemo]]); later reads pass it
    * back as an explicit all-string schema, which Spark applies with the
    * header line skipped (`enforceSchema`), so the columns are the same
    * and the header job is not run again. `caseSensitive` decides how
    * duplicate header names are made unique, so it is part of the key.
    */
  private def readCsv(spark: SparkSession, path: String, sep: String,
      comment: Option[String]): DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .option("sep", sep)
    val reader = comment.fold(base)(c => base.option("comment", c))
    val variant = s"csv sep=$sep comment=${comment.getOrElse("")} " +
      s"caseSensitive=${spark.conf.get("spark.sql.caseSensitive")}"
    reader.schema(SchemaMemo(path, variant)(reader.csv(path).schema)).csv(path)
  }

  /** Robust loader: plain parse; a 1-column result (e.g. '# ----' header
    * junk) triggers re-read with comment='#' + sniffed delimiter
    * (`etl_merge.py:88-108`, `:579-601`).
    */
  def loadTable(spark: SparkSession, path: String): DataFrame = {
    require(Files.exists(Paths.get(path)), s"input not found: $path") // A9
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    if (ext == "xlsx") Xlsx.loadXlsx(spark, path) // A2: dispatch by extension
    else if (ext == "xls") Biff.loadXls(spark, path) // A2: legacy 97-2003 BIFF8
    else {
      val first = readCsv(spark, path, ",", None)
      if (first.columns.length > 1) first
      else readCsv(spark, path, sniffDelimiter(path), Some("#"))
    }
  }

  /** JSONL corpus ingest with corrupt-record QUARANTINE: at lake scale some
    * lines are always malformed (truncated uploads, encoding accidents) and
    * a 100 TB job must neither crash (FAILFAST) nor silently null them
    * (PERMISSIVE default drops the evidence). Returns (clean, quarantine):
    * clean rows parse fully; quarantined rows carry the raw offending line
    * for triage. The explicit schema keeps ingestion one pass — no
    * inference scan.
    *
    * CALLER OWNS THE CACHE: both frames share one cached scan (Spark
    * disallows referencing `_corrupt_record` on an uncached JSON frame, so
    * the cache is load-bearing, not an optimization, and cannot be scoped
    * to a single action here — the two frames are consumed by separate
    * actions). Release it with `spark.catalog.clearCache()` (or unpersist
    * the returned frames' shared parent) once both sides are consumed.
    */
  def loadJsonlQuarantined(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    val withCorrupt = org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        "_corrupt_record", org.apache.spark.sql.types.StringType, nullable = true))
    val raw = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache() // Spark requires referencing _corrupt_record via a cached/materialized frame
    val clean = raw.filter(org.apache.spark.sql.functions.col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val quarantine = raw
      .filter(org.apache.spark.sql.functions.col("_corrupt_record").isNotNull)
      .select(org.apache.spark.sql.functions.col("_corrupt_record").as("raw_line"))
    (clean, quarantine)
  }

  /** Schema-evolution parquet read: merge the footers of every file under
    * `dir` (a 100 TB lake accretes columns over time; the default
    * first-file schema silently DROPS later columns), with rows from
    * pre-evolution files surfacing the added columns as null. Footer
    * merging costs one distributed schema pass — use for evolving landing
    * zones, not for fixed-schema curated tables.
    */
  def loadParquetMerged(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** ORC twin of [[loadParquetMerged]] — same footer-merging contract for
    * the other columnar lake format Spark ships a native vectorized reader
    * for (an engine claiming lake-scale ingest breadth must read both; the
    * per-file schema-evolution semantics are identical).
    */
  def loadOrcMerged(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").orc(dir)

  /** `~` and `$VAR`/`${VAR}` expansion (`_resolve_any_path`,
    * `etl_merge.py:79-85`): unknown variables stay verbatim (Python's
    * `os.path.expandvars` contract); only a leading `~` or `~/` expands
    * (a `~otheruser` prefix passes through untouched).
    */
  def expandPath(p: String, env: Map[String, String] = sys.env): String = {
    val vars = "\\$\\{([^}]+)\\}|\\$([A-Za-z_][A-Za-z0-9_]*)".r
    val expanded = vars.replaceAllIn(p, m => {
      val name = Option(m.group(1)).getOrElse(m.group(2))
      java.util.regex.Matcher.quoteReplacement(env.getOrElse(name, m.matched))
    })
    if (expanded == "~") sys.props("user.home")
    else if (expanded.startsWith("~/"))
      sys.props("user.home") + expanded.substring(1)
    else expanded
  }

  /** `.csv`↔`.xlsx` extension swap (`_swap_ext`, `etl_merge.py:22-31`):
    * `.csv`→`.xlsx`; `.xlsx`/`.xls`→`.csv`; any other/no extension appends
    * `.csv` ("prefer csv alternative").
    */
  def swapExt(fp: String): String = {
    val slash = math.max(fp.lastIndexOf('/'), fp.lastIndexOf('\\'))
    val dot = fp.lastIndexOf('.')
    val ext = if (dot > slash) fp.substring(dot).toLowerCase else ""
    val base = if (dot > slash) fp.substring(0, dot) else fp
    ext match {
      case ".csv" => base + ".xlsx"
      case ".xlsx" | ".xls" => base + ".csv"
      case _ => fp + ".csv"
    }
  }

  /** The config half of the resolution ladder
    * (`_resolve_input_from_config`, `etl_merge.py:34-76`), existence-probed
    * in reference order:
    *   1. primary = `inputs[keyCsv]` (default if absent), expanded — NOT
    *      existence-checked here (it is the final fallback);
    *   2. the sibling `*_xlsx` key, if configured and existing, WINS — even
    *      over an existing primary (reference behavior; the comment there
    *      says "if the configured path doesn't exist" but the code never
    *      gates on the primary's existence, and parity follows the code);
    *   3. the primary with its extension swapped, if existing (same note);
    *   4. the default, then the default swapped, if existing and not
    *      already tried;
    *   5. else the primary verbatim (caller validates existence — A9).
    */
  def resolveInputFromConfig(inputs: Map[String, String], keyCsv: String,
      defaultCsv: String, env: Map[String, String] = sys.env): String = {
    def exists(p: String) = Files.exists(Paths.get(p))
    val cand = expandPath(inputs.getOrElse(keyCsv, defaultCsv), env)
    var tried = List(cand)
    val keyXlsx = keyCsv.replace("_csv", "_xlsx")
    val sibling = inputs.get(keyXlsx).map(expandPath(_, env))
    sibling.foreach(s => tried = tried :+ s)
    sibling.filter(exists).getOrElse {
      val alt = swapExt(cand)
      if (alt != cand) tried = tried :+ alt
      if (alt != cand && exists(alt)) alt
      else {
        val defp = expandPath(defaultCsv, env)
        val tryDef = !tried.contains(defp)
        if (tryDef) tried = tried :+ defp
        if (tryDef && exists(defp)) defp
        else {
          val defSwap = swapExt(defp)
          if (!tried.contains(defSwap) && exists(defSwap)) defSwap
          else cand
        }
      }
    }
  }

  /** Input path resolution (`resolve_input_path`, `etl_merge.py:717-731`):
    * a non-blank ENV override returns immediately (expanded, never
    * existence-probed); otherwise the config ladder above runs. Existence
    * of the final resolution is validated at load (A9).
    */
  def resolveInputPath(envName: String, inputs: Map[String, String],
      keyCsv: String, defaultCsv: String, env: Map[String, String] = sys.env): String =
    env.get(envName).map(_.trim).filter(_.nonEmpty) match {
      case Some(v) => expandPath(v, env)
      case None => resolveInputFromConfig(inputs, keyCsv, defaultCsv, env)
    }
}
