package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-12 batch 3: SQL-surface completions — the lateral correlated
  * subquery, the IDENTIFIER clause with bound parameters, and the
  * batch twin of `dropDuplicatesWithinWatermark`.
  *
  *  - q323: the distinct-users-per-type rollup that
  *    [[graft.streaming.StreamOps.dedupWithinWatermarkStream]] converges
  *    to — the standard two-hop certification (streaming == batch in
  *    ExtensionQueries77Spec, batch == DuckDB here) for the Spark 3.5+
  *    within-watermark dedup operator, whose state is O(keys inside one
  *    watermark window) instead of O(all keys ever).
  *  - q324: per-region top-3 customers by balance via a CORRELATED
  *    LATERAL subquery with ORDER BY + LIMIT — the SQL-standard spelling
  *    of group-top-k. Catalyst decorrelates it into a ranked window
  *    (DomainJoin rewrite), so the plan that runs is the same
  *    partitioned-window top-k as q64, never a per-row re-execution —
  *    certified by the oracle against DuckDB's native lateral.
  *  - q325: the IDENTIFIER clause with a named parameter marker — safe
  *    dynamic COLUMN choice (no string splicing, no injection surface),
  *    the companion of q322's EXECUTE IMMEDIATE. The binding layer is
  *    under the oracle gate via the literal twin.
  */
object ExtensionQueries77 extends QueryGroup {

  // --------------------------------------------------------------- q323

  /** q323: distinct users per event type — the deterministic aggregate
    * the within-watermark dedup stream converges to on a replayed
    * corpus (the dedup keeps ONE row per (user, type); which row is
    * arrival-order-dependent, so the certified surface is the key set,
    * not the carried values).
    */
  def q323_dedup_within_watermark(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  val q323Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q324

  /** q324: per-region top-3 customers by account balance (cents), via
    * LATERAL — region → nations → the lateral's correlated ORDER BY
    * … LIMIT 3 per nation, then a region-level re-rank to 3. Ties pin
    * on (bal desc, name) at both ranks, the usual total-order contract.
    */
  def q324_lateral_topk(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""WITH percust AS (
         |  SELECT n.n_regionkey, t.c_name, t.bal_cents
         |  FROM parquet.`$dir/nation.parquet` n,
         |  LATERAL (
         |    SELECT c_name,
         |      CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
         |    FROM parquet.`$dir/customer.parquet`
         |    WHERE c_nationkey = n.n_nationkey
         |    ORDER BY bal_cents DESC, c_name LIMIT 3) t
         |), ranked AS (
         |  SELECT r.r_name, p.c_name, p.bal_cents,
         |    row_number() OVER (PARTITION BY r.r_name
         |      ORDER BY p.bal_cents DESC, p.c_name) AS rnk
         |  FROM percust p JOIN parquet.`$dir/region.parquet` r
         |    ON p.n_regionkey = r.r_regionkey
         |)
         |SELECT r_name, CAST(rnk AS BIGINT) AS rnk, c_name, bal_cents
         |FROM ranked WHERE rnk <= 3
         |ORDER BY r_name, rnk""".stripMargin)

  val q324Sql: String =
    """WITH percust AS (
      |  SELECT n.n_regionkey, t.c_name, t.bal_cents
      |  FROM nation n,
      |  LATERAL (
      |    SELECT c_name,
      |      CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      |    FROM customer
      |    WHERE c_nationkey = n.n_nationkey
      |    ORDER BY bal_cents DESC, c_name LIMIT 3) t
      |), ranked AS (
      |  SELECT r.r_name, p.c_name, p.bal_cents,
      |    row_number() OVER (PARTITION BY r.r_name
      |      ORDER BY p.bal_cents DESC, p.c_name) AS rnk
      |  FROM percust p JOIN region r ON p.n_regionkey = r.r_regionkey
      |)
      |SELECT r_name, CAST(rnk AS BIGINT) AS rnk, c_name, bal_cents
      |FROM ranked WHERE rnk <= 3
      |ORDER BY r_name, rnk""".stripMargin

  // --------------------------------------------------------------- q325

  /** q325: IDENTIFIER(:param) — the grouping COLUMN arrives as a bound
    * parameter (here `source`), never spliced into the SQL text.
    */
  def q325_identifier_param(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""SELECT IDENTIFIER(:gcol) AS grp, count(*) AS n_docs,
         |  sum(n_chars) AS chars_sum
         |FROM parquet.`$dir/documents.parquet`
         |GROUP BY IDENTIFIER(:gcol) ORDER BY grp""".stripMargin,
      Map("gcol" -> "source"))

  val q325Sql: String =
    """SELECT source AS grp, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |FROM documents GROUP BY source ORDER BY grp""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q323_dedup_within_watermark", q323_dedup_within_watermark _, q323Sql),
    Query("q324_lateral_topk", q324_lateral_topk _, q324Sql),
    Query("q325_identifier_param", q325_identifier_param _, q325Sql)
  )
}
