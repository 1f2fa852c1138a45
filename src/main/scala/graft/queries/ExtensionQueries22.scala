package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{CoPurchase, DenseIds, PageRank, PrefixScan}

/** Round-9 batch 10: concentration metrics, event-time observability,
  * weighted graph centrality.
  *
  *  - q162: spend concentration — exact integer Gini coefficient and
  *    top-1% revenue share, the mixture-balance metric.
  *  - q163: event-time lateness audit — per hour, how disordered the log
  *    arrival was vs a 10-minute watermark allowance, via a two-phase
  *    scan-order prefix max (never a global window).
  *  - q164: weighted PageRank over the co-purchase graph — mass splits
  *    by co-purchase multiplicity instead of uniformly.
  */
object ExtensionQueries22 extends QueryGroup {

  // --------------------------------------------------------------- q162

  /** q162: revenue concentration. Per-user purchase totals (whole
    * dollars) rank ascending; the exact Gini coefficient comes from the
    * rank identity `G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx)` in integer ppm,
    * alongside the top-1% users' revenue share (top ⌈n/100⌉ by the same
    * total order). The inequality measure behind mixture rebalancing —
    * "is this corpus/revenue dominated by a few heads?"
    *
    * Scale shape: the global rank is the q91 two-phase dense id (range
    * partition + broadcast offsets — never a partition-less window); the
    * two moments and the conditional top-slice sum ride in ONE aggregate
    * over the ranked frame with the 1-row totals broadcast. Bound:
    * |2·Σi·x·10⁶| ≤ 2n·Σx·10⁶ — 64-bit safe to ~10⁷ users × 10⁸ total
    * dollars; beyond that the moments upgrade to DECIMAL(38) (the q145
    * money posture).
    */
  def q162_spend_gini(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(col("user_id"), expr("cents div 100").as("dollars"))
    val ranked = DenseIds.withDenseId(spend, "rid", 16,
        col("dollars"), col("user_id"))
      .withColumn("i", col("rid") + 1L)
    val totals = ranked.agg(count(lit(1)).as("n"),
      sum(col("dollars")).as("sx"))
    ranked.crossJoin(broadcast(totals))
      .agg(
        max(col("n")).as("n_users"),
        max(col("sx")).as("total_dollars"),
        sum(col("i") * col("dollars")).as("six"),
        sum(when(col("i") > col("n") - expr("(n + 99) div 100"), col("dollars"))
          .otherwise(0L)).as("top_dollars"))
      .select(col("n_users"), col("total_dollars"),
        expr("(2 * six - (n_users + 1) * total_dollars) * 1000000" +
          " div (n_users * total_dollars)").as("gini_ppm"),
        expr("top_dollars * 1000000 div total_dollars").as("top1pct_share_ppm"))
  }

  val q162Sql: String =
    """WITH spend AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) // 100
      |      AS dollars
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
      |), r AS (
      |  SELECT dollars,
      |    row_number() OVER (ORDER BY dollars, user_id) AS i
      |  FROM spend
      |), t AS (
      |  SELECT count(*) AS n, CAST(sum(dollars) AS BIGINT) AS sx FROM r
      |), m AS (
      |  SELECT CAST(sum(i * dollars) AS BIGINT) AS six,
      |    CAST(sum(CASE WHEN i > n - (n + 99) // 100 THEN dollars ELSE 0 END)
      |      AS BIGINT) AS topd
      |  FROM r, t
      |)
      |SELECT n AS n_users, sx AS total_dollars,
      |  CAST((2 * six - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT)
      |    AS gini_ppm,
      |  CAST(topd * 1000000 // sx AS BIGINT) AS top1pct_share_ppm
      |FROM m, t""".stripMargin

  // --------------------------------------------------------------- q163

  /** q163: event-time lateness audit — the observability pass that sizes
    * a stream's watermark before a REPLAY. The modeled arrival order is a
    * per-user-sharded backfill ((user_id, event_id) — each user's file
    * replays in order, files concatenate) — the common backfill layout
    * whose every file boundary jumps the clock backwards. Each event
    * compares against the maximum event time seen strictly before it in
    * arrival order (the watermark's raw input): per event-time hour, how
    * many events arrive out of order, how many exceed a 10-minute
    * allowance (these would be DROPPED by q56's watermarked window), and
    * the worst observed skew — i.e., the allowance a replay would
    * actually need.
    *
    * Scale shape: the running max is [[graft.ops.PrefixScan]]'s
    * two-phase scan (range partition on arrival order, per-partition
    * window, bounded per-partition maxima broadcast back) — the oracle's
    * global `max OVER (ORDER BY ...)` spelling is exactly what does NOT
    * scale; the report is one hour-keyed map-side-combined aggregate.
    */
  def q163_lateness_audit(s: SparkSession, dir: String): DataFrame = {
    val allowanceNs = 600000000000L // 10 minutes
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
    PrefixScan.prefixMaxExclusive(e, "prev_max", 32, col("ts"),
        col("user_id"), col("event_id"))
      .withColumn("hour_bucket", expr("ts div 3600000000000"))
      .groupBy(col("hour_bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("prev_max") > col("ts"), 1L).otherwise(0L))
          .as("n_disordered"),
        sum(when(col("prev_max") - col("ts") > allowanceNs, 1L).otherwise(0L))
          .as("n_dropped"),
        max(when(col("prev_max") > col("ts"),
          expr("(prev_max - ts) div 1000"))).as("max_skew_us"))
      .orderBy(col("hour_bucket"))
  }

  val q163Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      |), p AS (
      |  SELECT event_id, us,
      |    max(us) OVER (ORDER BY user_id, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM f
      |)
      |SELECT us // 3600000000 AS hour_bucket,
      |  count(*) AS n_events,
      |  CAST(sum(CASE WHEN prev_max > us THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_disordered,
      |  CAST(sum(CASE WHEN prev_max - us > 600000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_dropped,
      |  max(CASE WHEN prev_max > us THEN prev_max - us END) AS max_skew_us
      |FROM p
      |GROUP BY hour_bucket
      |ORDER BY hour_bucket""".stripMargin

  // --------------------------------------------------------------- q164

  private val WprIters = 4
  private val WprInitMass = 1000000000000L // 1e12 per node
  private val WprTeleportMass = 150000000000L // 0.15 × init, exact

  /** q164: WEIGHTED PageRank over the co-purchase part graph — q74's
    * centrality with mass split by co-purchase multiplicity (`w` = how
    * many orders the pair shared) instead of uniformly: frequently
    * co-bought parts pull proportionally more mass. Same exact integer
    * arithmetic (damping 17/20, `(mass·w) div wtot`), 4 synchronous
    * iterations, fully unrolled in the oracle.
    *
    * Scale shape: [[graft.ops.PageRank.run]] with the `Weighted` split — the edge
    * list materializes once src-partitioned (shuffled again each round
    * with adaptive execution on, see PageRank), each round exchanges the
    * dst-keyed partial aggregate, eager checkpoint per round, no |V|-row
    * broadcast anywhere.
    */
  def q164_weighted_pagerank(s: SparkSession, dir: String): DataFrame = {
    val weighted = CoPurchase.symmetric(
      CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 1)
        .select(col("part_a").as("src"), col("part_b").as("dst"), col("n_co").as("w")))
    val nodes = Tables.part(s, dir).select(col("p_partkey").as("id"))
    PageRank.run(weighted, nodes, WprIters, WprInitMass, WprTeleportMass, PageRank.Weighted)
      .select(col("id").as("part_key"), col("wtot"), col("mass").as("wpr_mass"))
      .orderBy(col("part_key"))
  }

  private def wprIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT n.id,
       |    CAST($WprTeleportMass + (17 * COALESCE(s.inmass, 0)) // 20 AS BIGINT) AS mass
       |  FROM n LEFT JOIN (
       |    SELECT e2.dst, CAST(SUM((m.mass * e2.w) // e2.wtot) AS BIGINT) AS inmass
       |    FROM $prev m JOIN e2 ON e2.src = m.id GROUP BY e2.dst
       |  ) s ON n.id = s.dst
       |)""".stripMargin

  val q164Sql: String = {
    val iters = (1 to WprIters)
      .map(i => wprIterSql(if (i == 1) "m0" else s"m${i - 1}", s"m$i"))
      .mkString(",\n")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
       |  FROM lp a JOIN lp b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2
       |),
       |wt AS (SELECT src, CAST(sum(w) AS BIGINT) AS wtot FROM e GROUP BY src),
       |e2 AS (SELECT e.src, e.dst, e.w, wt.wtot FROM e JOIN wt USING (src)),
       |n AS (SELECT p_partkey AS id FROM part),
       |m0 AS (SELECT id, CAST($WprInitMass AS BIGINT) AS mass FROM n),
       |$iters
       |SELECT m.id AS part_key, COALESCE(wt.wtot, 0) AS wtot,
       |  m.mass AS wpr_mass
       |FROM m$WprIters m LEFT JOIN wt ON m.id = wt.src
       |ORDER BY part_key""".stripMargin
  }

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q162_spend_gini", q162_spend_gini _, q162Sql),
    Query("q163_lateness_audit", q163_lateness_audit _, q163Sql),
    Query("q164_weighted_pagerank", q164_weighted_pagerank _, q164Sql)
  )
}
