package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 13: CEP-style streaming conversion and referential
  * integrity.
  *
  *  - q171: windowed signup→purchase conversion — the batch formulation
  *    of [[graft.streaming.StreamOps.conversionFunnel]]'s per-user state
  *    machine (streaming == batch pinned in StreamingSpec).
  *  - q172: foreign-key orphan audit across the star schema — the
  *    integrity gate a warehouse load runs before publishing.
  */
object ExtensionQueries25 extends QueryGroup {

  // --------------------------------------------------------------- q171

  /** q171: first signup → first purchase within 7 days, per user — the
    * ordered-pattern (CEP) detection q121's unordered funnel cannot
    * express with a deadline. The streaming twin is a keyed state
    * machine whose per-user state times out at signup + window under the
    * event-time watermark (state bounded by the ACTIVE window
    * population); this batch form is two user-keyed conditional-min
    * aggregates — no windows, no self-join beyond the anchor join.
    */
  def q171_conversion_window(s: SparkSession, dir: String): DataFrame = {
    val windowUs = 604800000000L // 7 days
    val anchors = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", expr("ts div 1000")))
        .as("signup_us"))
      .filter(col("signup_us").isNotNull)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
      .join(anchors, "user_id")
      .filter(col("event_type") === "purchase" &&
        col("us") >= col("signup_us") &&
        col("us") <= col("signup_us") + windowUs)
      .groupBy(col("user_id"), col("signup_us"))
      .agg(min(col("us")).as("purchase_us"))
      .select(col("user_id"), col("signup_us"), col("purchase_us"),
        (col("purchase_us") - col("signup_us")).as("latency_us"))
      .orderBy(col("user_id"))
  }

  val q171Sql: String =
    """WITH a AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS signup_us
      |  FROM events GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, a.signup_us, min(epoch_us(e.ts)) AS purchase_us
      |  FROM events e JOIN a ON e.user_id = a.user_id
      |  WHERE a.signup_us IS NOT NULL AND e.event_type = 'purchase'
      |    AND epoch_us(e.ts) >= a.signup_us
      |    AND epoch_us(e.ts) <= a.signup_us + 604800000000
      |  GROUP BY e.user_id, a.signup_us
      |)
      |SELECT user_id, signup_us, purchase_us,
      |  purchase_us - signup_us AS latency_us
      |FROM c ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q172

  /** q172: referential-integrity audit — orphan child rows per
    * foreign-key relationship across the star schema, with the orphan
    * rate in ppm. Healthy data certifies as zeros (the audit's value is
    * the certification, like q163's in-order finding); a broken load
    * shows exactly where and how much.
    *
    * Scale shape: each relationship is ONE left-anti join keyed on the
    * FK — tiny parents (nation) broadcast, big parents shuffle on the
    * key; the five 1-row counts union into the report. No row ever
    * leaves its join's key partition.
    */
  def q172_fk_audit(s: SparkSession, dir: String): DataFrame = {
    def audit(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String, hint: Boolean = false): DataFrame = {
      val p0 = parent.select(col(pk).as(fk)).distinct()
      val p = if (hint) broadcast(p0) else p0
      val total = child.agg(count(lit(1)).as("n_child"))
      child.join(p, Seq(fk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .crossJoin(broadcast(total))
        .select(lit(name).as("relation"), col("n_child"), col("n_orphans"),
          expr("n_orphans * 1000000 div n_child").as("orphan_ppm"))
    }
    val li = Tables.lineitem(s, dir)
    Seq(
      audit("lineitem.orderkey", li.select(col("l_orderkey")), "l_orderkey",
        Tables.orders(s, dir), "o_orderkey"),
      audit("lineitem.partkey", li.select(col("l_partkey")), "l_partkey",
        Tables.part(s, dir), "p_partkey"),
      audit("lineitem.suppkey", li.select(col("l_suppkey")), "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey", hint = true),
      audit("orders.custkey", Tables.orders(s, dir).select(col("o_custkey")),
        "o_custkey", Tables.customer(s, dir), "c_custkey"),
      audit("customer.nationkey",
        Tables.customer(s, dir).select(col("c_nationkey").cast("long").as("nk")),
        "nk", Tables.nation(s, dir).select(col("n_nationkey").cast("long")
          .as("n_nationkey")), "n_nationkey", hint = true))
      .reduce(_ union _)
      .orderBy(col("relation"))
  }

  val q172Sql: String = {
    def arm(name: String, childTable: String, fk: String,
        parentTable: String, pk: String): String =
      s"""SELECT '$name' AS relation,
         |  (SELECT count(*) FROM $childTable) AS n_child,
         |  (SELECT count(*) FROM $childTable WHERE $fk NOT IN
         |     (SELECT $pk FROM $parentTable)) AS n_orphans,
         |  (SELECT count(*) FROM $childTable WHERE $fk NOT IN
         |     (SELECT $pk FROM $parentTable)) * 1000000
         |    // (SELECT count(*) FROM $childTable) AS orphan_ppm""".stripMargin
    Seq(
      arm("customer.nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
      arm("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      arm("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
      arm("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      arm("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
  }

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q171_conversion_window", q171_conversion_window _, q171Sql),
    Query("q172_fk_audit", q172_fk_audit _, q172Sql)
  )
}
