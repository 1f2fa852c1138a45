package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-12 batch 12: write planning, multivariate outliers, and the
  * engine's own overflow self-audit.
  *
  *  - q350 write-layout plan: the file-count decision a partitioned
  *    writer makes — per partition key: estimated bytes, files at a
  *    128 MiB target, rows per file (ceil arithmetic, exact). q193
  *    plans COMPACTION of an existing small-file mess; this plans the
  *    write that avoids one.
  *  - q351 bivariate outlier census: per-row standardized z² for price
  *    AND quantity from one global-moments pass, in centi-z² integers —
  *    `z²·100 = 100·(N·x−Sx)² div (N·Sxx−Sx²)` — with the
  *    cross-multiplied products through DECIMAL(38,0) (they pass 10²⁴
  *    at sf1x; ceiling ~10³⁸ documented). Counts of price-only /
  *    quantity-only / joint 3σ outliers — the 2D q90.
  *  - q352 overflow-headroom audit: the engine auditing ITSELF for the
  *    q181 bug class — per money column: the bit length of the
  *    grand-total cents accumulation and the BIGINT headroom left, so
  *    "this sum will hit the 2⁶³ ceiling at ~N× scale" is a reported
  *    number instead of a production surprise.
  */
object ExtensionQueries86 extends QueryGroup {

  // --------------------------------------------------------------- q350

  private val TargetBytes = 128L * 1024 * 1024

  /** q350: per language — corpus bytes (chars, the ASCII-corpus proxy),
    * files at the 128 MiB target, rows per file; all ceil-exact.
    */
  def q350_write_layout_plan(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes_est"))
      .select(col("lang"), col("n_docs"), col("bytes_est"),
        expr(s"(bytes_est + ${TargetBytes - 1}L) div ${TargetBytes}L")
          .as("n_files"),
        expr(s"(n_docs + ((bytes_est + ${TargetBytes - 1}L) div ${TargetBytes}L) - 1) " +
          s"div ((bytes_est + ${TargetBytes - 1}L) div ${TargetBytes}L)")
          .as("rows_per_file"))
      .orderBy(col("lang"))

  val q350Sql: String = {
    val t = TargetBytes
    s"""WITH g AS (
       |  SELECT lang, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS bytes_est
       |  FROM documents GROUP BY lang
       |)
       |SELECT lang, n_docs, bytes_est,
       |  CAST((bytes_est + ${t - 1}) // $t AS BIGINT) AS n_files,
       |  CAST((n_docs + ((bytes_est + ${t - 1}) // $t) - 1)
       |    // ((bytes_est + ${t - 1}) // $t) AS BIGINT) AS rows_per_file
       |FROM g ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------------------- q351

  /** q351: 3σ census over (price, quantity) — one moments aggregate,
    * one codegen pass computing both centi-z² per row (DECIMAL(38,0)
    * cross-multiplication), one 1-row census fold.
    */
  def q351_bivariate_outliers(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("x"),
        col("l_quantity").cast("long").as("y"))
    val m = li.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(col("y")).as("sy"), sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
    def z2c(v: String): String =
      // 100·(N·v − Sv)² div (N·Svv − Sv²), all in DECIMAL(38,0)
      s"CAST((CAST(n AS DECIMAL(38,0)) * $v - s$v) * (CAST(n AS DECIMAL(38,0)) * $v - s$v) * 100 " +
        s"div (CAST(n AS DECIMAL(38,0)) * s$v$v - CAST(s$v AS DECIMAL(38,0)) * s$v) AS BIGINT)"
    li.crossJoin(broadcast(m))
      .select(expr(z2c("x")).as("z2x_c"), expr(z2c("y")).as("z2y_c"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("z2x_c") > 900, 1L).otherwise(0L)).as("n_out_price"),
        sum(when(col("z2y_c") > 900, 1L).otherwise(0L)).as("n_out_qty"),
        sum(when(col("z2x_c") + col("z2y_c") > 900, 1L).otherwise(0L))
          .as("n_out_joint"))
  }

  val q351Sql: String =
    """WITH li AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
      |    CAST(l_quantity AS BIGINT) AS y
      |  FROM lineitem
      |), m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(sum(y) AS HUGEINT) AS sy, CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      |  FROM li
      |), z AS (
      |  SELECT
      |    CAST((n * x - sx) * (n * x - sx) * 100
      |      // (n * sxx - sx * sx) AS BIGINT) AS z2x_c,
      |    CAST((n * y - sy) * (n * y - sy) * 100
      |      // (n * syy - sy * sy) AS BIGINT) AS z2y_c
      |  FROM li, m
      |)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN z2x_c > 900 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_price,
      |  CAST(sum(CASE WHEN z2y_c > 900 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_qty,
      |  CAST(sum(CASE WHEN z2x_c + z2y_c > 900 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_out_joint
      |FROM z""".stripMargin

  // --------------------------------------------------------------- q352

  /** q352: per money column — grand-total cents, its bit length, and
    * the BIGINT headroom in bits AND in scale-up factors (2^headroom):
    * the self-audit that would have caught the q181 DECIMAL ceiling by
    * report instead of by reasoning.
    */
  def q352_overflow_headroom(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq(
      "l_extendedprice" -> "CAST(round(l_extendedprice * 100) AS BIGINT)",
      "l_discount" -> "CAST(round(l_discount * 100) AS BIGINT)",
      "l_tax" -> "CAST(round(l_tax * 100) AS BIGINT)",
      "l_quantity" -> "CAST(l_quantity AS BIGINT)")
    val stackArgs = cols.map { case (n, e) => s"'$n', $e" }.mkString(", ")
    Tables.lineitem(s, dir)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS (col_name, v)")
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n"), max(abs(col("v"))).as("max_abs"),
        sum(abs(col("v"))).as("sum_abs"))
      .select(col("col_name"), col("n"), col("max_abs"), col("sum_abs"),
        length(bin(col("sum_abs"))).cast("long").as("bits_used"),
        (lit(63L) - length(bin(col("sum_abs")))).as("headroom_bits"))
      .orderBy(col("col_name"))
  }

  val q352Sql: String =
    """WITH stacked AS (
      |  SELECT 'l_extendedprice' AS col_name,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
      |  UNION ALL
      |  SELECT 'l_discount', CAST(round(l_discount * 100) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'l_tax', CAST(round(l_tax * 100) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'l_quantity', CAST(l_quantity AS BIGINT) FROM lineitem
      |)
      |SELECT col_name, count(*) AS n,
      |  CAST(max(abs(v)) AS BIGINT) AS max_abs,
      |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
      |  CAST(length(bin(CAST(sum(abs(v)) AS BIGINT))) AS BIGINT) AS bits_used,
      |  CAST(63 - length(bin(CAST(sum(abs(v)) AS BIGINT))) AS BIGINT)
      |    AS headroom_bits
      |FROM stacked GROUP BY col_name ORDER BY col_name""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q350_write_layout_plan", q350_write_layout_plan _, q350Sql),
    Query("q351_bivariate_outliers", q351_bivariate_outliers _, q351Sql),
    Query("q352_overflow_headroom", q352_overflow_headroom _, q352Sql)
  )
}
