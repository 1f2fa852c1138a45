package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{FpSafe, Tables}
import graft.ops.Sessions

/** Generic relational operators beyond the reference's direct surface
  * (SURVEY §2 rows marked "absent — implement as generic ops"): set
  * operations, analytic windows with frames, date bucketing, JSON
  * extraction, join variants, rollup, sessionization.
  */
object RelationalQueries2 extends QueryGroup {
  import FpSafe._

  /** q15: union / intersect / except (SURVEY §2 D — set-like ops). */
  def q15_set_ops(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_nationkey").cast("int").as("nationkey"))
    val su = Tables.supplier(s, dir).select(col("s_nationkey").cast("int").as("nationkey"))
    val u = c.union(su).distinct().withColumn("op", lit("union"))
    val i = c.intersect(su).withColumn("op", lit("intersect"))
    val e = c.except(su).withColumn("op", lit("except"))
    u.union(i).union(e).select(col("op"), col("nationkey")).orderBy(col("op"), col("nationkey"))
  }

  val q15Sql: String =
    """WITH c AS (SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer),
      |     s AS (SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier)
      |SELECT 'union' AS op, nationkey FROM (SELECT nationkey FROM c UNION SELECT nationkey FROM s)
      |UNION ALL
      |SELECT 'intersect' AS op, nationkey FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
      |UNION ALL
      |SELECT 'except' AS op, nationkey FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
      |ORDER BY op, nationkey""".stripMargin

  /** q16: analytic windows with frames (SURVEY §2 H — lag, running sum,
    * moving average) per user over the events stream table. Running money
    * sums accumulate exact cents (order-independent correctness; the frame
    * order is pinned by (ts, event_id)).
    */
  def q16_window_analytics(s: SparkSession, dir: String): DataFrame = {
    // ts arrives as long nanos; order windows by µs (ts div 1000) so the
    // frame order matches DuckDB's µs-precision timestamps exactly.
    val e = Tables.events(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wM3 = w.rowsBetween(-2, Window.currentRow)
    e.select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"), col("event_type"),
      cents(col("value")).as("vc"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("running_value", sum(col("vc")).over(wRun) / 100.0)
      .withColumn("avg3", (sum(col("vc")).over(wM3) / 100.0) / count(lit(1)).over(wM3))
      .select(col("event_id"), col("user_id"), col("prev_type"), col("running_value"), col("avg3"))
      .orderBy(col("event_id"))
  }

  val q16Sql: String =
    """SELECT event_id, user_id,
      |  lag(event_type, 1) OVER w AS prev_type,
      |  CAST(sum(CAST(round(value*100) AS BIGINT))
      |    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0 AS running_value,
      |  (CAST(sum(CAST(round(value*100) AS BIGINT))
      |    OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0)
      |    / count(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS avg3
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY event_id""".stripMargin

  /** q17: date bucketing (SURVEY §2 F — date scalar library): monthly order
    * rollup. Month emitted as a string so engine timestamp internals never
    * reach the compare.
    */
  def q17_date_trunc(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("revenue"))
      .orderBy(col("month"))
  }

  val q17Sql: String =
    """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
      |FROM orders GROUP BY 1 ORDER BY month""".stripMargin

  /** q18: JSON extraction (SURVEY §2 F — json scalar): pull props.$.k,
    * bucket it, aggregate. get_json_object is codegen'd in Spark;
    * json_extract_string in DuckDB.
    */
  def q18_json_extract(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.select(col("event_type"),
      get_json_object(col("props"), "$.k").try_cast("int").as("k"),
      cents(col("value")).as("vc"))
      .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), (sum(col("vc")) / 100.0).as("sum_value"))
      .orderBy(col("event_type"), col("k_bucket"))
  }

  val q18Sql: String =
    """SELECT event_type,
      |  TRY_CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
      |FROM events
      |GROUP BY event_type, k_bucket
      |ORDER BY event_type, k_bucket""".stripMargin

  /** q19: join-variant suite (SURVEY §2 G — semi/anti/inner/full): customers
    * with/without orders. Output one (op, n) row per variant.
    */
  def q19_join_variants(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey"))
    val o = Tables.orders(s, dir).select(col("o_custkey"))
    def one(op: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
    one("semi", c.join(o, col("c_custkey") === col("o_custkey"), "left_semi"))
      .union(one("anti", c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")))
      .union(one("inner", c.join(o, col("c_custkey") === col("o_custkey"), "inner")))
      .union(one("full", c.join(o, col("c_custkey") === col("o_custkey"), "full")))
      .orderBy(col("op"))
  }

  val q19Sql: String =
    """SELECT 'semi' AS op, count(*) AS n FROM customer WHERE EXISTS
      |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |UNION ALL
      |SELECT 'anti', count(*) FROM customer WHERE NOT EXISTS
      |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |UNION ALL
      |SELECT 'inner', count(*) FROM customer JOIN orders ON o_custkey = c_custkey
      |UNION ALL
      |SELECT 'full', count(*) FROM customer FULL JOIN orders ON o_custkey = c_custkey
      |ORDER BY op""".stripMargin

  /** q20: rollup with grouping id (SURVEY §2 E — grouping sets): region →
    * nation customer-account rollup through two broadcast dims.
    */
  def q20_rollup(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), moneySum(col("c_acctbal")).as("acctbal"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("gid"), col("r_name"), col("n_name"))
  }

  val q20Sql: String =
    """SELECT r_name, n_name, count(*) AS n_cust,
      |  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) / 100.0 AS acctbal,
      |  CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS gid
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY gid, r_name, n_name""".stripMargin

  /** q21: sessionization via gaps-and-islands (SURVEY §2 I batch-equivalent
    * of session windows): 30-minute inactivity gap per user. Timestamps
    * compared as exact epoch microseconds (no format/precision ambiguity).
    * The streaming `session_window` equivalence is pinned in StreamingSpec.
    */
  def q21_sessionize(s: SparkSession, dir: String): DataFrame = {
    // ts = long nanos; DuckDB's TIMESTAMP is µs, so compare in exact µs via
    // integer division (never through double — ns exceeds 2^53).
    val e = Tables.events(s, dir)
    val flagged = e
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
        cents(col("value")).as("vc"))
      .transform(Sessions.flag)
    flagged.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("session_start_us"),
        max(col("us")).as("session_end_us"),
        (sum(col("vc")) / 100.0).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val q21Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(round(value*100) AS BIGINT) AS vc,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |), g AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM f
      |)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  CAST(min(us) AS BIGINT) AS session_start_us,
      |  CAST(max(us) AS BIGINT) AS session_end_us,
      |  CAST(sum(vc) AS BIGINT) / 100.0 AS sum_value
      |FROM g GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q15_set_ops", q15_set_ops _, q15Sql),
    Query("q16_window_analytics", q16_window_analytics _, q16Sql),
    Query("q17_date_trunc", q17_date_trunc _, q17Sql),
    Query("q18_json_extract", q18_json_extract _, q18Sql),
    Query("q19_join_variants", q19_join_variants _, q19Sql),
    Query("q20_rollup", q20_rollup _, q20Sql),
    Query("q21_sessionize", q21_sessionize _, q21Sql)
  )
}
