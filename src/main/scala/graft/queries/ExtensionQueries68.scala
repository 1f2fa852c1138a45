package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-11 batch 6: JSON relationalization + the higher-order MAP
  * function family — the remaining codegen'd collection surface a
  * migrating user leans on for semi-structured ETL. No UDFs anywhere:
  * from_json with an EXPLICIT DDL schema (never schema inference on a
  * 100 TB scan), posexplode, map_from_entries / transform_values /
  * map_filter / map_entries / map_zip_with / array_sort / transform /
  * array_join — all Catalyst expressions inside whole-stage codegen.
  *
  * Map-typed and array-typed columns never reach a RESULT (the driver
  * comparator can't hash them): every map serializes through the
  * sorted-entries → "k:v,k:v" idiom, which is also the deterministic
  * cross-engine spelling (string_agg ... ORDER BY in DuckDB).
  */
object ExtensionQueries68 extends QueryGroup {

  // --------------------------------------------------------------- q297

  /** q297: typed from_json round trip. Each event folds to a nested
    * JSON doc (struct + value array), re-parses under an explicit DDL
    * schema, posexplodes the array, and rolls up by (type, pos) — the
    * mirror recomputes from the source columns, so the gate is
    * "explicit-schema from_json returns exactly what to_json wrote",
    * including the array order (pos 1 carries the doubled cents).
    */
  def q297_from_json(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val cents = round(col("value") * 100).cast("long")
    val json = to_json(struct(
      struct(col("event_type").as("type"),
        get_json_object(col("props"), "$.k").cast("int").as("k")).as("meta"),
      array(cents, cents * 2).as("vals")))
    e.select(from_json(json,
        org.apache.spark.sql.types.StructType.fromDDL(
          "meta STRUCT<type: STRING, k: INT>, vals ARRAY<BIGINT>")).as("j"))
      .select(col("j.meta.type").as("t"), posexplode(col("j.vals")))
      .groupBy(col("t"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("col")).as("v_sum"))
      .orderBy(col("t"), col("pos"))
  }

  val q297Sql: String =
    """SELECT event_type AS t, 0 AS pos, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v_sum
      |FROM events GROUP BY 1
      |UNION ALL
      |SELECT event_type, 1, count(*),
      |  CAST(sum(2*CAST(round(value*100) AS BIGINT)) AS BIGINT)
      |FROM events GROUP BY 1
      |ORDER BY t, pos""".stripMargin

  // --------------------------------------------------------------- q298

  /** q298: map build → transform_values → map_filter → sorted
    * serialization. Per user bucket, the per-type counts become a map;
    * each value rescores to `count*100 + length(type)`; map_filter
    * keeps scores ≥ 300 (count ≥ 3); entries serialize sorted. Buckets
    * whose every entry filtered out drop (the mirror's GROUP BY over
    * kept rows does the same).
    */
  def q298_map_filter(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.groupBy((col("user_id") % 50).as("u"), col("event_type").as("et"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("u"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("et"), col("c"))))).as("m"))
      .select(col("u"), expr(
        "map_filter(transform_values(m, (k, v) -> v * 100 + length(k)), (k, v) -> v >= 300)").as("mf"))
      .where(expr("size(mf) > 0"))
      .select(col("u"),
        expr("size(mf)").as("n_kept"),
        expr("array_join(transform(array_sort(map_entries(mf)), e -> concat(e.key, ':', e.value)), ',')").as("kept"))
      .orderBy(col("u"))
  }

  val q298Sql: String =
    """WITH c AS (
      |  SELECT user_id % 50 AS u, event_type AS et, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |k AS (
      |  SELECT u, et, c*100 + length(et) AS score FROM c
      |  WHERE c*100 + length(et) >= 300)
      |SELECT u, CAST(count(*) AS INT) AS n_kept,
      |  string_agg(et || ':' || CAST(score AS VARCHAR), ',' ORDER BY et) AS kept
      |FROM k GROUP BY u ORDER BY u""".stripMargin

  // --------------------------------------------------------------- q299

  /** q299: map_zip_with over the key UNION. Per event type, the k-mod
    * distribution of even event_ids and of odd event_ids each build a
    * map; map_zip_with diffs them with coalesce-to-0 lambda semantics
    * (a key present on one side only still emits), and the sorted
    * serialization crosses engines. The two map sides meet in a 5-row
    * full-outer equi-join — bounded by distinct event types.
    */
  def q299_map_zip_with(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type").as("t"),
        (get_json_object(col("props"), "$.k").cast("int") % 10).as("km"),
        (col("event_id") % 2).as("half"))
    val c = e.groupBy(col("t"), col("km"), col("half"))
      .agg(count(lit(1)).as("c"))
    def side(h: Int, name: String): DataFrame =
      c.filter(col("half") === h).groupBy(col("t"))
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("km"), col("c"))))).as(name))
    side(0, "m0").join(side(1, "m1"), Seq("t"), "full_outer")
      .select(col("t"), expr(
        """array_join(transform(array_sort(map_entries(
          |  map_zip_with(coalesce(m0, cast(map() as map<int, bigint>)),
          |    coalesce(m1, cast(map() as map<int, bigint>)),
          |    (k, a, b) -> coalesce(b, 0L) - coalesce(a, 0L)))),
          |  e -> concat(e.key, ':', e.value)), ',')""".stripMargin).as("deltas"))
      .orderBy(col("t"))
  }

  val q299Sql: String =
    """WITH c AS (
      |  SELECT event_type AS t,
      |    CAST(json_extract_string(props, '$.k') AS INT) % 10 AS km,
      |    count(*) FILTER (event_id % 2 = 0) AS c0,
      |    count(*) FILTER (event_id % 2 = 1) AS c1
      |  FROM events GROUP BY 1, 2)
      |SELECT t,
      |  string_agg(CAST(km AS VARCHAR) || ':' || CAST(c1 - c0 AS VARCHAR),
      |    ',' ORDER BY km) AS deltas
      |FROM c GROUP BY t ORDER BY t""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q297_from_json", q297_from_json _, q297Sql),
    Query("q298_map_filter", q298_map_filter _, q298Sql),
    Query("q299_map_zip_with", q299_map_zip_with _, q299Sql)
  )
}
