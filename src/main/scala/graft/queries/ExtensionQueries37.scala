package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 25: audience set algebra, BI rollups with exact
  * accounting — exact-integer, DuckDB-oracle-gated.
  *
  *  - q204: bitmap audience algebra — |A∩B| / |A\B| / Jaccard between
  *    event-type audiences via word-wise bit_and/bit_or of the q174
  *    presence bitmaps.
  *  - q205: top-N with OTHERS — the BI rollup that never loses mass.
  *  - q206: hierarchy share-of-parent — region→nation revenue shares.
  */
object ExtensionQueries37 extends QueryGroup {

  // --------------------------------------------------------------- q204

  /** q204: audience set algebra between event types — for each ordered
    * type pair (a < b), the EXACT |A∩B|, |A\B|, |B\A|, |A∪B| and
    * Jaccard ppm, computed by word-wise `bit_and`/`bit_or` over the
    * q174 64-bit presence bitmaps (one LONG per 64 users per word), so
    * the set algebra happens on bitmap frames whose size is independent
    * of event count. The oracle recomputes every pair from raw DISTINCT
    * sets — equality certifies AND/OR/popcount as set algebra.
    *
    * Scale shape: ONE events-sized pass builds (type, word)→bits; the
    * pair algebra is a word-co-partitioned self-join of the BITMAP
    * frame (|types|²·|words| rows, data-independent of events); the
    * report is a ≤|types|² fold.
    */
  def q204_bitmap_audiences(s: SparkSession, dir: String): DataFrame = {
    val bm = Tables.events(s, dir)
      .select(col("event_type"), expr("user_id div 64").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))")
          .as("mask"))
      .groupBy(col("event_type"), col("word"))
      .agg(expr("bit_or(mask)").as("bits"))
    val a = bm.select(col("event_type").as("type_a"), col("word"),
      col("bits").as("ba"))
    val b = bm.select(col("event_type").as("type_b"), col("word"),
      col("bits").as("bb"))
    a.join(b, Seq("word"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(
        sum(expr("bit_count(ba & bb)")).cast("long").as("n_both"),
        sum(expr("bit_count(ba & ~bb)")).cast("long").as("n_only_a"),
        sum(expr("bit_count(bb & ~ba)")).cast("long").as("n_only_b"),
        sum(expr("bit_count(ba | bb)")).cast("long").as("n_union"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_only_a"),
        col("n_only_b"), col("n_union"),
        expr("n_both * 1000000 div n_union").as("jaccard_ppm"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q204Sql: String =
    """WITH s AS (
      |  SELECT DISTINCT event_type, user_id FROM events
      |), c AS (
      |  SELECT event_type, count(*) AS n FROM s GROUP BY event_type
      |), pr AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b
      |  FROM c a JOIN c b ON a.event_type < b.event_type
      |), i AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*) AS nb
      |  FROM s a JOIN s b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY a.event_type, b.event_type
      |)
      |SELECT pr.type_a, pr.type_b,
      |  CAST(COALESCE(nb, 0) AS BIGINT) AS n_both,
      |  CAST(ca.n - COALESCE(nb, 0) AS BIGINT) AS n_only_a,
      |  CAST(cb.n - COALESCE(nb, 0) AS BIGINT) AS n_only_b,
      |  CAST(ca.n + cb.n - COALESCE(nb, 0) AS BIGINT) AS n_union,
      |  CAST(COALESCE(nb, 0) * 1000000
      |    // (ca.n + cb.n - COALESCE(nb, 0)) AS BIGINT) AS jaccard_ppm
      |FROM pr
      |LEFT JOIN i ON pr.type_a = i.type_a AND pr.type_b = i.type_b
      |JOIN c ca ON pr.type_a = ca.event_type
      |JOIN c cb ON pr.type_b = cb.event_type
      |ORDER BY pr.type_a, pr.type_b""".stripMargin

  // --------------------------------------------------------------- q205

  /** q205: top-N with OTHERS — per event type, the 3 hottest pages plus
    * one OTHER row carrying ALL remaining mass, so the report always
    * sums to the type's total (the accounting BI dashboards silently
    * get wrong by truncating). rank 1-3 are real pages; rank 4 is the
    * OTHER rollup (page = -1).
    *
    * Scale shape: (type, page)-keyed count; keep-3 is a type-partitioned
    * row_number (WindowGroupLimit); the OTHER mass is the type total
    * (broadcast) minus the top-3 sum — no second scan of the page
    * frame.
    */
  def q205_topn_others(s: SparkSession, dir: String): DataFrame = {
    val pc = Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").try_cast("long").as("page"))
      .filter(col("page").isNotNull)
      .groupBy(col("event_type"), col("page"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("n").desc, col("page"))
    val top = pc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
    val totals = pc.groupBy(col("event_type")).agg(sum(col("n")).as("total"))
    val others = top.groupBy(col("event_type")).agg(sum(col("n")).as("topn"))
      .join(totals, "event_type")
      .select(col("event_type"), lit(4L).as("rank"), lit(-1L).as("page"),
        (col("total") - col("topn")).as("n"))
    top.select(col("event_type"), col("rank"), col("page"), col("n"))
      .unionByName(others)
      .orderBy(col("event_type"), col("rank"))
  }

  val q205Sql: String =
    """WITH pc AS (
      |  SELECT event_type,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS page,
      |    count(*) AS n
      |  FROM events
      |  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
      |    IS NOT NULL
      |  GROUP BY event_type, page
      |), r AS (
      |  SELECT event_type, page, n,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY n DESC, page) AS BIGINT) AS rank
      |  FROM pc
      |), top AS (
      |  SELECT event_type, rank, page, n FROM r WHERE rank <= 3
      |), oth AS (
      |  SELECT pc.event_type, CAST(4 AS BIGINT) AS rank,
      |    CAST(-1 AS BIGINT) AS page,
      |    CAST(sum(pc.n) - (SELECT sum(top.n) FROM top
      |      WHERE top.event_type = pc.event_type) AS BIGINT) AS n
      |  FROM pc GROUP BY pc.event_type
      |)
      |SELECT * FROM top
      |UNION ALL SELECT * FROM oth
      |ORDER BY event_type, rank""".stripMargin

  // --------------------------------------------------------------- q206

  /** q206: hierarchy share-of-parent — revenue rolled up the
    * region→nation hierarchy, each nation reported with its share of
    * its REGION in ppm and each region with its share of the TOTAL.
    * The drill-down accounting staple; all shares exact.
    *
    * Scale shape: revenue aggregates once at the nation grain
    * (customer/nation/region dims broadcast into the orders scan);
    * region and grand totals are re-aggregates of the ≤|nations| frame
    * joined back broadcast. One orders-sized pass.
    */
  def q206_hierarchy_share(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val regions = rev.groupBy(col("region"))
      .agg(sum(col("cents")).as("region_cents"))
    val total = rev.agg(sum(col("cents")).as("total_cents"))
    rev.join(broadcast(regions), "region")
      .crossJoin(broadcast(total))
      .select(col("region"), col("nation"), col("cents"),
        expr("cents * 1000000 div region_cents").as("share_of_region_ppm"),
        expr("region_cents * 1000000 div total_cents")
          .as("region_share_ppm"))
      .orderBy(col("region"), col("nation"))
  }

  val q206Sql: String =
    """WITH rev AS (
      |  SELECT r_name AS region, n_name AS nation,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY r_name, n_name
      |), rg AS (
      |  SELECT region, CAST(sum(cents) AS BIGINT) AS region_cents
      |  FROM rev GROUP BY region
      |), t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM rev)
      |SELECT rev.region, nation, cents,
      |  CAST(cents * 1000000 // region_cents AS BIGINT)
      |    AS share_of_region_ppm,
      |  CAST(region_cents * 1000000 // total_cents AS BIGINT)
      |    AS region_share_ppm
      |FROM rev JOIN rg ON rev.region = rg.region, t
      |ORDER BY rev.region, nation""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q204_bitmap_audiences", q204_bitmap_audiences _, q204Sql),
    Query("q205_topn_others", q205_topn_others _, q205Sql),
    Query("q206_hierarchy_share", q206_hierarchy_share _, q206Sql)
  )
}
