package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Sessions

/** Ledger reconciliation, onboarding effects, and
  * vocabulary emergence — exact-integer, DuckDB-oracle-gated.
  *
  *  - q264: order-vs-lines ledger reconciliation.
  *  - q265: first-session conversion effect.
  *  - q266: vocabulary emergence leaderboard between corpus halves.
  */
object ExtensionQueries57 extends QueryGroup {

  // --------------------------------------------------------------- q264

  /** q264: ledger reconciliation — per order, the header total
    * (`o_totalprice`) against the sum of its line extended prices, in
    * exact cents; the report buckets orders into exact-match, within
    * 1%, and beyond 1% (cross-multiplied: `|diff|·100 ≤ header`), with
    * the worst absolute mismatch. On books that balance, bucket 3 is
    * empty; on this synthetic feed the header is drawn independently,
    * and the audit says exactly how far the books are out — the
    * reconciliation number an accountant asks for first.
    *
    * Scale shape: one key-partitioned join + order-keyed line fold;
    * the report is a ≤3-row rollup.
    */
  def q264_ledger_reconciliation(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("line_cents"))
    val j = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("header_cents"))
      .join(lines, col("o_orderkey") === col("l_orderkey"))
      .withColumn("diff", abs(col("header_cents") - col("line_cents")))
    j.select(
        when(col("diff") === 0, lit(0L))
          .when(col("diff") * 100 <= col("header_cents"), lit(1L))
          .otherwise(lit(2L)).as("bucket"),
        col("diff"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"), max(col("diff")).as("worst_cents"))
      .orderBy(col("bucket"))
  }

  val q264Sql: String =
    """WITH l AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS line_cents
      |  FROM lineitem GROUP BY l_orderkey
      |), j AS (
      |  SELECT abs(CAST(round(o_totalprice * 100) AS BIGINT) - line_cents)
      |      AS diff,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS header_cents
      |  FROM orders JOIN l ON o_orderkey = l_orderkey
      |)
      |SELECT CAST(CASE WHEN diff = 0 THEN 0
      |    WHEN diff * 100 <= header_cents THEN 1 ELSE 2 END AS BIGINT) AS bucket,
      |  count(*) AS n_orders, CAST(max(diff) AS BIGINT) AS worst_cents
      |FROM j
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- q265

  /** q265: first-session conversion effect — conversion rate (session
    * contains a purchase) for each user's session INDEX (1st, 2nd,
    * 3rd+), in exact ppm. Whether buying happens on first contact or
    * after warming up is the onboarding-investment question; session
    * indices come from the island ids themselves (q21's session_id is
    * already the per-user ordinal).
    *
    * Scale shape: q21's user-partitioned islands; per-session fold;
    * index bucketing is arithmetic on session_id; ≤3-row report.
    */
  def q265_first_session_effect(s: SparkSession, dir: String): DataFrame = {
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .transform(Sessions.flag)
      .groupBy(col("user_id"), col("session_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
    sess.select(
        when(col("session_id") === 0, lit(1L))
          .when(col("session_id") === 1, lit(2L)).otherwise(lit(3L))
          .as("session_index"),
        col("converted"))
      .groupBy(col("session_index"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("converted")).as("n_conv"))
      .select(col("session_index"), col("n_sessions"), col("n_conv"),
        expr("n_conv * 1000000 div n_sessions").as("conv_ppm"))
      .orderBy(col("session_index"))
  }

  val q265Sql: String =
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
      |), sess AS (
      |  SELECT user_id, session_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS converted
      |  FROM g GROUP BY user_id, session_id
      |)
      |SELECT CAST(CASE WHEN session_id = 0 THEN 1
      |    WHEN session_id = 1 THEN 2 ELSE 3 END AS BIGINT) AS session_index,
      |  count(*) AS n_sessions, CAST(sum(converted) AS BIGINT) AS n_conv,
      |  CAST(sum(converted) * 1000000 // count(*) AS BIGINT) AS conv_ppm
      |FROM sess
      |GROUP BY session_index
      |ORDER BY session_index""".stripMargin

  // --------------------------------------------------------------- q266

  /** q266: vocabulary emergence leaderboard — for tokens with ≥ 20
    * total occurrences, how concentrated each is in the SECOND half of
    * the corpus (doc_id above the midpoint), in exact ppm; top 20 by
    * concentration. 500000 ppm is a stationary token; values far above
    * flag emerging vocabulary (and far below, dying). q131 measures
    * rate drift of a fixed snapshot pair and q244 the growth curve;
    * this ranks WHICH words moved. (This corpus's closed 31-token
    * vocabulary makes strictly-new tokens vacuous — concentration is
    * the shift-robust reading.)
    *
    * Scale shape: one token pass with the half flag in the projection;
    * token-keyed conditional fold; TakeOrderedAndProject.
    */
  def q266_new_vocabulary(s: SparkSession, dir: String): DataFrame = {
    val mid = Tables.documents(s, dir)
      .agg(expr("(min(doc_id) + max(doc_id)) div 2").as("mid"))
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .crossJoin(broadcast(mid))
    toks.groupBy(col("tok"))
      .agg(sum(when(col("doc_id") <= col("mid"), 1L).otherwise(0L))
        .as("old_count"),
        sum(when(col("doc_id") > col("mid"), 1L).otherwise(0L))
          .as("new_count"))
      .filter(col("old_count") + col("new_count") >= 20)
      .select(col("tok"), col("old_count"), col("new_count"),
        expr("new_count * 1000000 div (old_count + new_count)")
          .as("new_share_ppm"))
      .orderBy(col("new_share_ppm").desc, col("tok"))
      .limit(20)
  }

  val q266Sql: String =
    """WITH m AS (
      |  SELECT (min(doc_id) + max(doc_id)) // 2 AS mid FROM documents
      |), t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), c AS (
      |  SELECT tok,
      |    CAST(sum(CASE WHEN doc_id <= mid THEN 1 ELSE 0 END) AS BIGINT)
      |      AS old_count,
      |    CAST(sum(CASE WHEN doc_id > mid THEN 1 ELSE 0 END) AS BIGINT)
      |      AS new_count
      |  FROM t, m GROUP BY tok
      |)
      |SELECT tok, old_count, new_count,
      |  CAST(new_count * 1000000 // (old_count + new_count) AS BIGINT)
      |    AS new_share_ppm
      |FROM c
      |WHERE old_count + new_count >= 20
      |ORDER BY new_share_ppm DESC, tok
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q264_ledger_reconciliation", q264_ledger_reconciliation _, q264Sql),
    Query("q265_first_session_effect", q265_first_session_effect _, q265Sql),
    Query("q266_new_vocabulary", q266_new_vocabulary _, q266Sql)
  )
}
