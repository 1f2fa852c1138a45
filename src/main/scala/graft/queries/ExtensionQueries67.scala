package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sinks.XlsxWrite

/** Round-11 batch 5: the DataSource V2 Excel connector
  * ([[graft.sources.excel.DefaultSource]]) under the oracle gate. The
  * fixture is a ROUND TRIP: once per (JVM, sf dir), the documents table
  * exports to a directory of per-language .xlsx workbooks (the
  * JDK-only [[XlsxWrite]] sink, inline strings, deterministic bytes);
  * each query then reads that directory back through the V2 scan —
  * file-per-partition, name-resolved columns, pushed-down pruning —
  * while the DuckDB mirror computes straight from the parquet. Any
  * drop anywhere in writer → zip → XML → shared-string/inline parse →
  * InternalRow reds the row.
  *
  * Scale shape: the export directory is ingest-scale BY CONSTRUCTION
  * (bounded rows per workbook; a 100 TB lake's xlsx surface is partner
  * drops, not lake data) — so q296 declares `broadcast()` on the Excel
  * side of its join against the lake table, the plan PlanGate expects.
  */
object ExtensionQueries67 extends QueryGroup {

  /** sf dir → directory of per-lang xlsx exports (one workbook per
    * language, rows ordered by doc_id; cells all-string). Memoized per
    * JVM: the export is the fixture, not the operator under test.
    */
  private val exportCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def excelDir(s: SparkSession, dir: String): String =
    exportCache.computeIfAbsent(dir, d => {
      val rows = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
        .collect()
      val tmp = Files.createTempDirectory("graft_xlsx_export_").toString
      rows.groupBy(_.getString(1)).foreach { case (lang, rs) =>
        XlsxWrite.writeXlsx(s"$tmp/$lang.xlsx",
          Seq("doc_id", "lang", "source", "n_chars"),
          rs.iterator.map(r => Seq(r.getLong(0).toString, r.getString(1),
            r.getString(2), r.getLong(3).toString)))
      }
      tmp
    })

  private def excel(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.excel").load(excelDir(s, dir))

  // --------------------------------------------------------------- q294

  /** q294: per-language rollup over the V2 Excel scan — every cell of
    * every workbook crosses writer+reader. String cells type back with
    * casts (the resolve-layer contract of all A-surface sources).
    */
  def q294_excel_rollup(s: SparkSession, dir: String): DataFrame =
    excel(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("chars_sum"),
        min(col("doc_id").cast("long")).as("min_doc"),
        max(col("doc_id").cast("long")).as("max_doc"))
      .orderBy(col("lang"))

  val q294Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q295

  /** q295: a 1-of-4-column aggregate — the pushed-down pruning path:
    * the scan's readSchema carries only n_chars, and the executor-side
    * XML walk never materializes the other three columns' cells
    * (ExcelDsv2Spec pins both the plan schema and the parser skip).
    */
  def q295_excel_pruned(s: SparkSession, dir: String): DataFrame =
    excel(s, dir)
      .select(col("n_chars").cast("long").as("c"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("chars_sum"),
        min(col("c")).as("chars_min"), max(col("c")).as("chars_max"))

  val q295Sql: String =
    """SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars_sum,
      |  min(n_chars) AS chars_min, max(n_chars) AS chars_max
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- q296

  /** q296: round-trip integrity join — the Excel read joins back to the
    * lake (parquet) table on doc_id and certifies EVERY field survived
    * the export null-safely; n_match == n_rows in every language or the
    * row reds. The Excel side is declared broadcast (ingest-scale vs
    * lake-scale — the stats the V2 source reports support the same
    * choice automatically).
    */
  def q296_excel_integrity(s: SparkSession, dir: String): DataFrame = {
    val x = excel(s, dir).select(
      col("doc_id").cast("long").as("x_id"),
      col("lang").as("x_lang"), col("source").as("x_source"),
      col("n_chars").cast("long").as("x_chars"))
    val d = Tables.documents(s, dir)
    d.join(broadcast(x), d("doc_id") === x("x_id"))
      .groupBy(d("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(d("lang") <=> col("x_lang") &&
          d("source") <=> col("x_source") &&
          d("n_chars") <=> col("x_chars"), 1L).otherwise(0L)).as("n_match"))
      .orderBy(d("lang"))
  }

  val q296Sql: String =
    """SELECT lang, count(*) AS n_rows, count(*) AS n_match
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q294_excel_rollup", q294_excel_rollup _, q294Sql),
    Query("q295_excel_pruned", q295_excel_pruned _, q295Sql),
    Query("q296_excel_integrity", q296_excel_integrity _, q296Sql)
  )
}
