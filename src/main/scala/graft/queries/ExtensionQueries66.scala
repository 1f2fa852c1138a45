package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-11 batch 4: Spark 4 language-surface coverage — the three
  * engine-level features a migrating user would reach for first, each
  * oracle-gated like any operator:
  *
  *   - VARIANT (q291): the semi-structured type replacing
  *     string-JSON + get_json_object hot paths. A VARIANT cell stores a
  *     parsed binary form, so repeated typed path extraction skips
  *     re-tokenizing the text — at 100 TB the difference between one
  *     parse and one parse per extraction.
  *   - collations (q292): collation-aware grouping (UTF8_LCASE) — the
  *     engine-native spelling of case-insensitive semantics that keeps
  *     codegen and hash aggregation instead of wrapping every
  *     comparison in lower().
  *   - SQL pipe syntax (q293): the |> operator chain added in Spark 4
  *     — same Catalyst plan as the nested-subquery form, certified by
  *     the standard-SQL DuckDB mirror producing identical rows.
  *
  * All three stay exact-integer/string so the mirrors hash bit-exactly;
  * none introduces a new shuffle shape (plain hash aggregations).
  */
object ExtensionQueries66 extends QueryGroup {

  // --------------------------------------------------------------- q291

  /** q291: nested VARIANT path extraction. Each event folds into a
    * nested VARIANT via parse_json (meta.type, meta.k from the props
    * JSON, cents), then typed `variant_get` paths drive a grouped
    * rollup; `try_variant_get` on an absent path pins missing-path →
    * NULL (n_absent = 0 in every group, oracle-asserted). The mirror
    * recomputes from the source columns — the semantics under test is
    * "typed path extraction returns exactly the source value".
    */
  def q291_variant_extract(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val asJson = to_json(struct(
      struct(col("event_type").as("type"),
        get_json_object(col("props"), "$.k").cast("int").as("k")).as("meta"),
      round(col("value") * 100).cast("long").as("cents")))
    e.select(parse_json(asJson).as("var"))
      .select(
        expr("variant_get(var, '$.meta.type', 'string')").as("t"),
        expr("variant_get(var, '$.meta.k', 'int')").as("k"),
        expr("variant_get(var, '$.cents', 'long')").as("vc"),
        expr("try_variant_get(var, '$.absent', 'int')").as("absent"))
      .groupBy(col("t"), (col("k") % 7).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("cents_sum"),
        count(col("absent")).as("n_absent"))
      .orderBy(col("t"), col("k_mod"))
  }

  val q291Sql: String =
    """SELECT event_type AS t,
      |  CAST(json_extract_string(props, '$.k') AS INT) % 7 AS k_mod,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents_sum,
      |  CAST(0 AS BIGINT) AS n_absent
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY t, k_mod""".stripMargin

  // --------------------------------------------------------------- q292

  /** q292: collation-aware grouping. A deterministically case-mangled
    * language column (odd doc_ids upper-cased) groups under the
    * UTF8_LCASE collation, so the cased variants merge INSIDE the hash
    * aggregate — no lower() wrapper on the grouping key — while
    * count(DISTINCT mangled) inside each group measures how many binary
    * variants the collation merged (2 wherever both parities occur).
    * The result reports the canonical lower() form because the
    * collated group's representative value is whichever variant a
    * partition saw first — collation equality is not representation
    * equality, the one output-determinism trap of collated grouping.
    */
  def q292_collated_group(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val mangled = when(col("doc_id") % 2 === 1, upper(col("lang")))
      .otherwise(col("lang"))
    d.select(mangled.as("lang_m"), col("n_chars"))
      .groupBy(expr("collate(lang_m, 'UTF8_LCASE')").as("lang_ci"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_sum"),
        countDistinct(expr("collate(lang_m, 'UTF8_BINARY')")).as("n_cased"))
      .select(lower(col("lang_ci")).as("lang"), col("n_docs"),
        col("n_chars_sum"), col("n_cased"))
      .orderBy(col("lang"))
  }

  val q292Sql: String =
    """WITH m AS (
      |  SELECT CASE WHEN doc_id % 2 = 1 THEN upper(lang) ELSE lang END AS lang_m,
      |    n_chars
      |  FROM documents)
      |SELECT lower(lang_m) AS lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
      |  count(DISTINCT lang_m) AS n_cased
      |FROM m GROUP BY lower(lang_m) ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q293

  /** q293: the Spark 4 SQL pipe-operator chain (`|>`): scan → filter →
    * aggregate → sort written as a left-to-right pipeline. Same Catalyst
    * plan as the nested form — the mirror is the standard-SQL spelling,
    * so the oracle certifies the surface is sugar, not semantics.
    */
  def q293_pipe_sql(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""FROM parquet.`$dir/orders.parquet`
         ||> WHERE o_orderstatus = 'F'
         ||> AGGREGATE count(*) AS n,
         |     sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
         |     GROUP BY o_orderpriority
         ||> ORDER BY o_orderpriority""".stripMargin)

  val q293Sql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q291_variant_extract", q291_variant_extract _, q291Sql),
    Query("q292_collated_group", q292_collated_group _, q292Sql),
    Query("q293_pipe_sql", q293_pipe_sql _, q293Sql)
  )
}
