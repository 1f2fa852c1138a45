package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sources.excel.ExcelTable

/** Round-11 batch 8: the V2 Excel WRITE path under the oracle gate —
  * the other half of the connector. The fixture writes through the real
  * `DataFrameWriter` V2 plans (AppendData / OverwriteByExpression →
  * task-side [[graft.sources.excel.ExcelDataWriter]]s, two-phase
  * commit, one workbook per non-empty partition), then each query
  * reads the directory back through the V2 scan while the mirror
  * computes from parquet. The distributed-write machinery — partition
  * fan-out, temp-file + rename commit, truncate semantics — all sits
  * between the lake table and the hash.
  */
object ExtensionQueries70 extends QueryGroup {

  /** sf dir → (append-written dir, overwrite-written dir), memoized per
    * JVM. The append dir receives documents range-partitioned 4 ways;
    * the overwrite dir FIRST receives the full table, then an
    * `mode("overwrite")` of only the 'en' rows — so q304 is red unless
    * truncate really removed the first write's workbooks.
    */
  private val writeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[graft] def writtenDirs(s: SparkSession, dir: String): (String, String) =
    writeCache.computeIfAbsent(dir, d => {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      val str = Tables.documents(s, d)
        .select(cols.map(c => col(c).cast("string").as(c)): _*)
      val a = Files.createTempDirectory("graft_xlsx_append_").toString
      ExcelTable.prime(a, cols)
      str.repartitionByRange(4, col("doc_id").cast("long")).write
        .format("graft.sources.excel").mode("append").save(a)
      val o = Files.createTempDirectory("graft_xlsx_ovr_").toString
      ExcelTable.prime(o, cols)
      str.write.format("graft.sources.excel").mode("append").save(o)
      str.filter(col("lang") === "en").repartition(2).write
        .format("graft.sources.excel").mode("overwrite").save(o)
      (a, o)
    })

  // --------------------------------------------------------------- q303

  /** q303: rollup over the APPEND-written directory — every row crossed
    * repartitionByRange → task-side workbook build → two-phase commit →
    * V2 scan before aggregating.
    */
  def q303_excel_write_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val (a, _) = writtenDirs(s, dir)
    s.read.format("graft.sources.excel").load(a)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("chars_sum"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  val q303Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q304

  /** q304: rollup over the OVERWRITE-written directory. The mirror
    * filters to 'en' — any workbook the truncate failed to delete
    * (or a lost 'en' row) breaks the hash.
    */
  def q304_excel_overwrite(s: SparkSession, dir: String): DataFrame = {
    val (_, o) = writtenDirs(s, dir)
    s.read.format("graft.sources.excel").load(o)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("chars_sum"),
        min(col("doc_id").cast("long")).as("min_doc"),
        max(col("doc_id").cast("long")).as("max_doc"))
      .orderBy(col("lang"))
  }

  val q304Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents WHERE lang = 'en'
      |GROUP BY lang ORDER BY lang""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q303_excel_write_roundtrip", q303_excel_write_roundtrip _, q303Sql),
    Query("q304_excel_overwrite", q304_excel_overwrite _, q304Sql)
  )
}
