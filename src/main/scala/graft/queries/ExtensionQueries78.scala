package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-12 batch 4: mixture design + two more Spark 4 language
  * surfaces.
  *
  *  - q326 temperature-smoothed mixture weights: the multilingual
  *    sampling schedule (Conneau & Lample 2019 shape, T = 2): sampling
  *    weight ∝ √n_lang, which up-weights low-resource languages against
  *    proportional sampling. Determinism note: IEEE-754 sqrt is
  *    CORRECTLY ROUNDED in both engines and n·10⁶ < 2⁵², so
  *    floor(sqrt(·)) is bit-identical cross-engine — the one place this
  *    repo lets a double into an oracle-hashed integer, justified
  *    because correctly-rounded unary sqrt has no fold-order or libm
  *    variance (contrast ln/pow, which are NOT correctly rounded and
  *    stay banned — the q87 scaladoc).
  *  - q327 SQL scripting (Spark 4.1 `BEGIN … END` compound statements):
  *    DECLARE + WHILE loop building a compound-growth table, certified
  *    against DuckDB's closed-form recursive CTE — the procedural
  *    surface under the same oracle gate as everything else.
  *  - q328 union-by-name with missing columns: schema-evolution union
  *    (two export generations with different column sets) — Spark's
  *    `unionByName(allowMissingColumns = true)` == DuckDB's
  *    `UNION ALL BY NAME`, nulls where a generation lacks the column.
  */
object ExtensionQueries78 extends QueryGroup {

  // --------------------------------------------------------------- q326

  /** q326: per-language T=2 mixture — natural share vs temperature
    * share in exact ppm (the √n weights are exact integers; shares are
    * integer-divided), plus the upsampling factor per-mille each
    * language receives relative to proportional sampling.
    */
  def q326_temperature_mixture(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs") * 1000000L)).cast("long"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"),
      sum(col("w")).as("w_total"))
    counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        expr("n_docs * 1000000L div n_total").as("natural_ppm"),
        expr("w * 1000000L div w_total").as("temp_ppm"),
        expr("(w * 1000000L div w_total) * 1000 div (n_docs * 1000000L div n_total)")
          .as("upsample_per_mille"))
      .orderBy(col("lang"))
  }

  val q326Sql: String =
    """WITH c AS (
      |  SELECT lang, count(*) AS n_docs,
      |    CAST(floor(sqrt(CAST(count(*) * 1000000 AS DOUBLE))) AS BIGINT) AS w
      |  FROM documents GROUP BY lang
      |), t AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
      |    CAST(sum(w) AS BIGINT) AS w_total FROM c)
      |SELECT lang, n_docs,
      |  CAST(n_docs * 1000000 // n_total AS BIGINT) AS natural_ppm,
      |  CAST(w * 1000000 // w_total AS BIGINT) AS temp_ppm,
      |  CAST((w * 1000000 // w_total) * 1000
      |    // (n_docs * 1000000 // n_total) AS BIGINT) AS upsample_per_mille
      |FROM c, t ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q327

  /** q327: a SQL-scripting compound statement — 5%/month compound
    * growth on 10000 cents until it doubles (~15 months), one row per
    * month from a WHILE loop the script's final SELECT returns. The
    * mirror derives the identical schedule with a recursive CTE —
    * procedural and declarative spellings certified equal. (Integer
    * cents with truncating div, so the trajectories are bit-identical.
    * Scripting cost note: each loop statement is a driver-side
    * interpreter step, SF-independent — ~0.1 s per iteration; the rate
    * is chosen so the cert costs ~1.5 s, not the 1%/month spelling's
    * ~5.5 s of pure interpreter time.)
    */
  def q327_sql_scripting(s: SparkSession, dir: String): DataFrame =
    s.sql(
      """BEGIN
        |  DECLARE m BIGINT DEFAULT 0;
        |  DECLARE bal BIGINT DEFAULT 10000;
        |  DECLARE rows_acc ARRAY<STRUCT<month: BIGINT, bal_cents: BIGINT>>
        |    DEFAULT ARRAY(NAMED_STRUCT('month', 0L, 'bal_cents', 10000L));
        |  WHILE bal < 20000 DO
        |    SET m = m + 1;
        |    SET bal = bal + (bal * 5) DIV 100;
        |    SET rows_acc = ARRAY_APPEND(rows_acc,
        |      NAMED_STRUCT('month', m, 'bal_cents', bal));
        |  END WHILE;
        |  SELECT t.month, t.bal_cents
        |  FROM (SELECT EXPLODE(rows_acc) AS t)
        |  ORDER BY t.month;
        |END""".stripMargin)

  val q327Sql: String =
    """WITH RECURSIVE g(month, bal_cents) AS (
      |  SELECT CAST(0 AS BIGINT), CAST(10000 AS BIGINT)
      |  UNION ALL
      |  SELECT month + 1, bal_cents + (bal_cents * 5) // 100
      |  FROM g WHERE bal_cents < 20000
      |)
      |SELECT month, bal_cents FROM g ORDER BY month""".stripMargin

  // --------------------------------------------------------------- q328

  /** q328: schema-evolution union — generation A exports (doc_id, lang,
    * n_chars), generation B exports (doc_id, source); union BY NAME
    * with missing columns as nulls, then a null-census rollup that any
    * column misalignment would break.
    */
  def q328_union_by_name(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val genA = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val genB = d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("source"))
    genA.unionByName(genB, allowMissingColumns = true)
      .groupBy(coalesce(col("lang"), lit("<missing>")).as("lang_or_missing"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_null_source"),
        sum(coalesce(col("n_chars"), lit(0L))).as("chars_sum"))
      .orderBy(col("lang_or_missing"))
  }

  val q328Sql: String =
    """WITH u AS (
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL BY NAME
      |  SELECT doc_id, source FROM documents WHERE doc_id % 2 = 1
      |)
      |SELECT coalesce(lang, '<missing>') AS lang_or_missing,
      |  count(*) AS n_rows,
      |  CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_null_source,
      |  CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS chars_sum
      |FROM u GROUP BY 1 ORDER BY lang_or_missing""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q326_temperature_mixture", q326_temperature_mixture _, q326Sql),
    Query("q327_sql_scripting", q327_sql_scripting _, q327Sql),
    Query("q328_union_by_name", q328_union_by_name _, q328Sql)
  )
}
