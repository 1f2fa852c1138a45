package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Sessions

/** Index numbers, concentration risk, and session
  * affinity — exact-integer, DuckDB-oracle-gated.
  *
  *  - q273: matched-part price index between the two largest nations.
  *  - q274: whale-order dependence per customer.
  *  - q275: within-session event-type lift.
  */
object ExtensionQueries60 extends QueryGroup {

  // --------------------------------------------------------------- q273

  /** q273: matched-part price index — for parts ordered by BOTH of the
    * two highest-volume nations, the ratio estimator
    * `index_ppm = (Σ_p sumA_p·n_B,p) · 10⁶ div (Σ_p sumB_p·n_A,p)`
    * (each part's revenue cross-weighted by the OTHER side's line
    * count — the matched-pairs construction that cancels volume
    * differences without ever forming a mean), plus per-part win
    * counts. The index-number comparison that naive mean-of-prices
    * gets wrong when baskets differ.
    *
    * Scale shape: nation volumes fold once (top-2 via the bounded-
    * collect literal pattern); per-(nation, part) sums are one pass;
    * the match is a part-keyed self-join of the SUMMARY frame; folds
    * are 1-row.
    */
  def q273_price_index(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("c_nationkey").cast("long").as("nation"),
        col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val top2 = base.groupBy(col("nation")).agg(count(lit(1)).as("n"))
      .collect().sortBy(r => (-r.getLong(1), r.getLong(0))).take(2)
      .map(_.getLong(0))
    val cells = base.filter(col("nation").isin(top2: _*))
      .groupBy(col("nation"), col("l_partkey"))
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))
    val a = cells.filter(col("nation") === top2(0))
      .select(col("l_partkey"), col("s").as("sa"), col("n").as("na"))
    val b = cells.filter(col("nation") === top2(1))
      .select(col("l_partkey"), col("s").as("sb"), col("n").as("nb"))
    a.join(b, "l_partkey")
      .agg(count(lit(1)).as("n_matched"),
        sum(col("sa") * col("nb")).as("num"),
        sum(col("sb") * col("na")).as("den"),
        sum(when(col("sa") * col("nb") > col("sb") * col("na"), 1L)
          .otherwise(0L)).as("n_a_dearer"))
      .select(lit(top2(0)).as("nation_a"), lit(top2(1)).as("nation_b"),
        col("n_matched"), col("n_a_dearer"),
        expr("num * 1000000 div den").as("index_ppm"))
  }

  val q273Sql: String =
    """WITH base AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nation, l_partkey,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |), t2 AS (
      |  SELECT nation, row_number() OVER (ORDER BY count(*) DESC, nation)
      |    AS rk
      |  FROM base GROUP BY nation
      |  ORDER BY count(*) DESC, nation LIMIT 2
      |), cells AS (
      |  SELECT rk, l_partkey, CAST(sum(cents) AS BIGINT) AS s,
      |    count(*) AS n, min(base.nation) AS nation
      |  FROM base JOIN t2 ON base.nation = t2.nation
      |  GROUP BY rk, l_partkey
      |), j AS (
      |  SELECT a.nation AS nation_a, b.nation AS nation_b,
      |    a.s AS sa, a.n AS na, b.s AS sb, b.n AS nb
      |  FROM cells a JOIN cells b
      |    ON a.l_partkey = b.l_partkey AND a.rk = 1 AND b.rk = 2
      |)
      |SELECT min(nation_a) AS nation_a, min(nation_b) AS nation_b,
      |  count(*) AS n_matched,
      |  CAST(sum(CASE WHEN sa * nb > sb * na THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_a_dearer,
      |  CAST(sum(sa * nb) * 1000000 // sum(sb * na) AS BIGINT)
      |    AS index_ppm
      |FROM j""".stripMargin

  // --------------------------------------------------------------- q274

  /** q274: whale-order dependence — per customer with ≥ 3 orders, the
    * share of their lifetime spend carried by their single largest
    * order, in exact ppm; top 20 most-dependent. Revenue that hinges
    * on one order per account is fragile revenue — the account-level
    * cut of q162's corpus-level concentration.
    *
    * Scale shape: one orders pass → customer-keyed max and sum folds
    * in the SAME aggregate; TakeOrderedAndProject.
    */
  def q274_order_dependence(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"),
        max(col("cents")).as("max_cents"))
      .filter(col("n_orders") >= 3)
      .select(col("o_custkey").as("custkey"), col("n_orders"),
        col("total_cents"), col("max_cents"),
        expr("max_cents * 1000000 div total_cents").as("dependence_ppm"))
      .orderBy(col("dependence_ppm").desc, col("custkey"))
      .limit(20)
  }

  val q274Sql: String =
    """WITH c AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS total_cents,
      |    CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS max_cents
      |  FROM orders GROUP BY o_custkey
      |  HAVING count(*) >= 3
      |)
      |SELECT o_custkey AS custkey, n_orders, total_cents, max_cents,
      |  CAST(max_cents * 1000000 // total_cents AS BIGINT)
      |    AS dependence_ppm
      |FROM c
      |ORDER BY dependence_ppm DESC, custkey
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q275

  /** q275: within-session type lift — for each ordered event-type pair,
    * the probability that a session containing `a` also contains `b`,
    * against the base rate of sessions containing `b`, in exact ppm
    * lift. q239 measures USER-lifetime association; sessions tighten
    * the window to intent — "in the same sitting". Full pair grid (the
    * zero-cell discipline).
    *
    * Scale shape: session type-sets fold from q21's islands once; pair
    * counts are a (user, session)-co-partitioned self-join of the
    * per-session type frame (fan-out ≤ |types|²); marginals broadcast.
    */
  def q275_session_type_lift(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .transform(Sessions.flag)
      .select(col("user_id"), col("session_id"), col("event_type"))
      .distinct()
    val nSessions = st.select(col("user_id"), col("session_id")).distinct()
      .agg(count(lit(1)).as("ns"))
    val marg = st.groupBy(col("event_type")).agg(count(lit(1)).as("m"))
    val pairs = st.as("a").join(st.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_id") === col("b.session_id") &&
          col("a.event_type") =!= col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("nb"))
    // |event types| is a category constant — broadcast declares the bound
    // the plan can't prove for the non-equi type grid (PlanGate)
    val grid = marg.select(col("event_type").as("type_a"), col("m").as("ma"))
      .join(broadcast(marg.select(col("event_type").as("type_b"), col("m").as("mb"))),
        col("type_a") =!= col("type_b"))
      .join(pairs, Seq("type_a", "type_b"), "left")
      .withColumn("both", coalesce(col("nb"), lit(0L)))
    grid.crossJoin(broadcast(nSessions))
      .select(col("type_a"), col("type_b"), col("ma"), col("both"),
        expr("(both * 1000000 div ma) * 1000000 div (mb * 1000000 div ns)")
          .as("lift_ppm"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q275Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |         > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |), g AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_id
      |  FROM f
      |), st AS (
      |  SELECT DISTINCT user_id, session_id, event_type FROM g
      |), ns AS (
      |  SELECT count(*) AS ns FROM (
      |    SELECT DISTINCT user_id, session_id FROM st
      |  )
      |), marg AS (
      |  SELECT event_type, count(*) AS m FROM st GROUP BY event_type
      |), pr AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*) AS nb
      |  FROM st a JOIN st b
      |    ON a.user_id = b.user_id AND a.session_id = b.session_id
      |    AND a.event_type <> b.event_type
      |  GROUP BY a.event_type, b.event_type
      |)
      |SELECT ma.event_type AS type_a, mb.event_type AS type_b,
      |  ma.m AS ma, CAST(COALESCE(nb, 0) AS BIGINT) AS both,
      |  CAST((COALESCE(nb, 0) * 1000000 // ma.m) * 1000000
      |    // (mb.m * 1000000 // ns) AS BIGINT) AS lift_ppm
      |FROM marg ma
      |JOIN marg mb ON ma.event_type <> mb.event_type
      |LEFT JOIN pr ON pr.type_a = ma.event_type
      |  AND pr.type_b = mb.event_type, ns
      |ORDER BY type_a, type_b""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q273_price_index", q273_price_index _, q273Sql),
    Query("q274_order_dependence", q274_order_dependence _, q274Sql),
    Query("q275_session_type_lift", q275_session_type_lift _, q275Sql)
  )
}
