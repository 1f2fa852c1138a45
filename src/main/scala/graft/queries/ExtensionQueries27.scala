package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{DenseIds, PrefixScan}
import graft.plans.AsofJoinPhysical

/** Round-9 batch 15: the physical-operator tier in the oracle gate, and
  * the Lorenz curve behind q162's Gini scalar.
  *
  *  - q176: purchases enriched with the latest prior view through the
  *    CUSTOM PHYSICAL as-of join (AsofJoinExec — LogicalPlan + Strategy +
  *    SparkPlan), oracle-checked like every composed operator.
  *  - q177: revenue Lorenz curve at decile points — cumulative spend
  *    share via the two-phase prefix-sum scan.
  */
object ExtensionQueries27 extends QueryGroup {

  // --------------------------------------------------------------- q176

  /** q176: each purchase picks up the same user's LATEST prior-or-equal
    * view (id, timestamp, gap) through [[graft.plans.AsofJoinPhysical]] —
    * the tier-(c) physical rung (custom LogicalPlan, SparkStrategy, and
    * a cursor-merge SparkPlan with declared distribution/ordering
    * requirements) running inside the same DuckDB oracle gate as every
    * composed operator. Ties on the view timestamp break to the largest
    * view id — the operator's explicit tie-break column, mirrored as
    * `ORDER BY vus DESC, view_id DESC` in the oracle.
    *
    * Scale shape: EnsureRequirements plans one hash exchange + sort per
    * side (elided entirely for bucketed/sorted inputs); the merge holds
    * ONE buffered candidate row per key — no window, no union blow-up,
    * no struct carrying.
    */
  def q176_asof_physical(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("uid"), col("event_id").as("purchase_id"),
        expr("ts div 1000").as("pus"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        expr("ts div 1000").as("vus"))
    AsofJoinPhysical.backward(p, v, "uid", "v_user", "pus", "vus", "view_id")
      .select(col("purchase_id"), col("uid").as("user_id"), col("view_id"),
        (col("pus") - col("vus")).as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  val q176Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
      |), p AS (
      |  SELECT user_id, event_id AS purchase_id, us AS pus FROM e
      |  WHERE event_type = 'purchase'
      |), v AS (
      |  SELECT user_id, event_id AS view_id, us AS vus FROM e
      |  WHERE event_type = 'view'
      |), j AS (
      |  SELECT p.purchase_id, p.user_id, p.pus, v.view_id, v.vus,
      |    row_number() OVER (PARTITION BY p.purchase_id
      |      ORDER BY v.vus DESC, v.view_id DESC) AS rn
      |  FROM p LEFT JOIN v
      |    ON p.user_id = v.user_id AND v.vus <= p.pus
      |)
      |SELECT purchase_id, user_id, view_id, pus - vus AS gap_us
      |FROM j WHERE rn = 1
      |ORDER BY purchase_id""".stripMargin

  // --------------------------------------------------------------- q177

  /** q177: the revenue Lorenz curve at decile points — for each k/10 of
    * the user base (ranked by spend ascending), the cumulative share of
    * total revenue in exact ppm. The curve whose area q162's Gini
    * summarizes; together they are the mixture-balance dashboard.
    *
    * Scale shape: q91 two-phase dense rank for the global order, then
    * [[graft.ops.PrefixScan.prefixSumsInclusive]] for the cumulative
    * dollars (one checkpoint + bounded collect — never a global window);
    * the ten report rows select by exact rank arithmetic
    * `rank = n·k div 10` with the 1-row totals broadcast.
    */
  def q177_lorenz_curve(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(col("user_id"), expr("cents div 100").as("dollars"))
    val ranked = DenseIds.withDenseId(spend, "rid", 16,
      col("dollars"), col("user_id"))
    val cum = PrefixScan.prefixSumsInclusive(ranked, 16,
      Seq(col("dollars"), col("user_id")), Seq((col("dollars"), "cum_dollars")))
    val totals = spend.agg(count(lit(1)).as("n"), sum(col("dollars")).as("sx"))
    val ks = s.range(1, 11).select(col("id").as("k"))
    cum.crossJoin(broadcast(totals))
      .join(broadcast(ks), col("rid") + 1 === expr("n * k div 10"))
      .select(col("k").as("decile"), (col("rid") + 1).as("users_cum"),
        col("cum_dollars"),
        expr("cum_dollars * 1000000 div sx").as("share_ppm"))
      .orderBy(col("decile"))
  }

  val q177Sql: String =
    """WITH spend AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) // 100
      |      AS dollars
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
      |), r AS (
      |  SELECT dollars,
      |    row_number() OVER (ORDER BY dollars, user_id) AS rnk,
      |    CAST(sum(dollars) OVER (ORDER BY dollars, user_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_dollars
      |  FROM spend
      |), t AS (
      |  SELECT count(*) AS n, CAST(sum(dollars) AS BIGINT) AS sx FROM spend
      |), ks AS (SELECT unnest(range(1, 11)) AS k)
      |SELECT k AS decile, CAST(rnk AS BIGINT) AS users_cum, cum_dollars,
      |  CAST(cum_dollars * 1000000 // sx AS BIGINT) AS share_ppm
      |FROM r, t, ks
      |WHERE rnk = n * k // 10
      |ORDER BY decile""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q176_asof_physical", q176_asof_physical _, q176Sql),
    Query("q177_lorenz_curve", q177_lorenz_curve _, q177Sql)
  )
}
