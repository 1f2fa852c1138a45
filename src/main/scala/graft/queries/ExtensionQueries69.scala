package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-11 batch 7: exact-distinct acceleration + the remaining typed
  * extraction formats.
  *
  *   - Bitmap distinct (q300): `count(DISTINCT x)` is the classic
  *     scale cliff — one shuffle of every distinct value per group. The
  *     bitmap family (Spark 3.5+) pre-aggregates EXACTLY: values bucket
  *     into 32k-bit bitmaps (`bitmap_bucket_number` /
  *     `bitmap_bit_position`), `bitmap_construct_agg` builds a ≤4 KB
  *     binary per (group, bucket) WITH map-side partial aggregation,
  *     `bitmap_count` reads off the cardinality, and `bitmap_or_agg`
  *     merges across groups without revisiting rows — the lakehouse
  *     exact-distinct rollup pattern.
  *   - from_xml (q301): Spark 4's XML relationalization, same
  *     explicit-schema posture as q297's from_json.
  *   - str_to_map (q302): the delimited-KV string → typed columns path
  *     (log-line ETL), plus map_contains_key gating.
  *
  * All mirrors recompute from the source columns — the gate is "typed
  * extraction returns exactly what the source wrote".
  */
object ExtensionQueries69 extends QueryGroup {

  // --------------------------------------------------------------- q300

  /** q300: per-type exact distinct users via two-level bitmap
    * aggregation, plus an "(all)" row that merges the SAME per-bucket
    * bitmaps with bitmap_or_agg — types' bitmaps combine without a
    * second scan of events, the re-aggregation property count(DISTINCT)
    * fundamentally lacks.
    */
  def q300_bitmap_distinct(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val bm = e.groupBy(col("event_type").as("t"),
        expr("bitmap_bucket_number(user_id)").as("b"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
    val perType = bm.groupBy(col("t"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
    val all = bm.groupBy(col("b"))
      .agg(expr("bitmap_or_agg(bm)").as("obm"))
      .agg(sum(expr("bitmap_count(obm)")).as("n_users"))
      .select(lit("(all)").as("t"), col("n_users"))
    perType.unionByName(all).orderBy(col("t"))
  }

  val q300Sql: String =
    """SELECT event_type AS t, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1
      |UNION ALL
      |SELECT '(all)', count(DISTINCT user_id) FROM events
      |ORDER BY t""".stripMargin

  // --------------------------------------------------------------- q301

  /** q301: from_xml under an explicit schema. Events fold to an XML
    * fragment (attribute + nested elements), re-parse typed, and roll
    * up; k rides an ATTRIBUTE (`_k`) to cover both extraction paths.
    */
  def q301_from_xml(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val cents = round(col("value") * 100).cast("long")
    val xml = concat(
      lit("<e k=\""), get_json_object(col("props"), "$.k"), lit("\">"),
      lit("<t>"), col("event_type"), lit("</t>"),
      lit("<c>"), cents, lit("</c></e>"))
    e.select(from_xml(xml,
        org.apache.spark.sql.types.StructType.fromDDL(
          "_k INT, t STRING, c BIGINT")).as("x"))
      .groupBy(col("x.t").as("t"), (col("x._k") % 4).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("x.c")).as("cents_sum"))
      .orderBy(col("t"), col("k_mod"))
  }

  val q301Sql: String =
    """SELECT event_type AS t,
      |  CAST(json_extract_string(props, '$.k') AS INT) % 4 AS k_mod,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents_sum
      |FROM events GROUP BY 1, 2 ORDER BY t, k_mod""".stripMargin

  // --------------------------------------------------------------- q302

  /** q302: str_to_map over a delimited KV line (the log-ETL path):
    * type/k/half re-extract typed from "type=..,k=..,h=..", gated by
    * map_contains_key; the h key routes a conditional sum.
    */
  def q302_str_to_map(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val line = concat(lit("type="), col("event_type"),
      lit(",k="), get_json_object(col("props"), "$.k"),
      lit(",h="), col("event_id") % 2)
    e.select(line.as("line"), round(col("value") * 100).cast("long").as("cents"))
      .select(expr("str_to_map(line, ',', '=')").as("m"), col("cents"))
      .groupBy(expr("m['type']").as("t"))
      .agg(count(lit(1)).as("n"),
        sum(when(expr("map_contains_key(m, 'h')") &&
          expr("m['h']") === "1", col("cents")).otherwise(0L)).as("odd_cents"),
        sum(expr("cast(m['k'] as long)")).as("k_sum"))
      .orderBy(col("t"))
  }

  val q302Sql: String =
    """SELECT event_type AS t, count(*) AS n,
      |  CAST(sum(CASE WHEN event_id % 2 = 1
      |    THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS odd_cents,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum
      |FROM events GROUP BY 1 ORDER BY t""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q300_bitmap_distinct", q300_bitmap_distinct _, q300Sql),
    Query("q301_from_xml", q301_from_xml _, q301Sql),
    Query("q302_str_to_map", q302_str_to_map _, q302Sql)
  )
}
