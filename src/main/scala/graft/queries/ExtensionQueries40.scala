package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{DenseIds, PrefixScan}

/** Round-9 batch 28: time-weighted finance, supply-chain classing, and
  * SLA percentiles — exact-integer, DuckDB-oracle-gated.
  *
  *  - q213: time-weighted average value (TWAP) per event type.
  *  - q214: ABC revenue classification of parts (the 80/15/5 split).
  *  - q215: fulfillment latency percentiles per order priority.
  */
object ExtensionQueries40 extends QueryGroup {

  // --------------------------------------------------------------- q213

  /** q213: time-weighted average value (TWAP) per event type — each
    * observation holds until the type's NEXT observation, so the
    * average weights each value by its holding duration in exact
    * µs·cents: `twap_cents = Σ cents·dur div Σ dur` (the final
    * observation is right-censored and excluded, the standard TWAP
    * convention). The finance/metering aggregate a plain mean silently
    * fakes when sampling is irregular.
    *
    * Scale shape: one type-partitioned lead window (parallel across
    * types; sub-shard by hash(user) under the q91 two-phase shape if
    * one type dominated); the fold is type-keyed. 64-bit bounds:
    * Σ cents·dur ≤ max_cents · span_µs ≈ 3·10⁴·2.6·10¹² per type-month,
    * comfortably inside 2⁶³.
    */
  def q213_twap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), expr("ts div 1000").as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("dur", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("dur").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("cents") * col("dur")).as("wsum"),
        sum(col("dur")).as("tspan_us"))
      .select(col("event_type"), col("n_obs"), col("tspan_us"),
        expr("wsum div tspan_us").as("twap_cents"))
      .orderBy(col("event_type"))
  }

  val q213Sql: String =
    """WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS us,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), d AS (
      |  SELECT event_type, cents,
      |    lead(us, 1) OVER (PARTITION BY event_type ORDER BY us, event_id)
      |      - us AS dur
      |  FROM e
      |  QUALIFY dur IS NOT NULL
      |)
      |SELECT event_type, count(*) AS n_obs,
      |  CAST(sum(dur) AS BIGINT) AS tspan_us,
      |  CAST(sum(cents * dur) // sum(dur) AS BIGINT) AS twap_cents
      |FROM d GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q214

  /** q214: ABC classification of parts by revenue — parts ranked by
    * revenue descending; class A holds the head of the curve through
    * 80% of cumulative revenue, B through 95%, C the tail (a part is in
    * the earliest class whose threshold its CUMULATIVE share has not
    * yet passed — boundary parts go to the earlier class). The
    * supply-chain 80/15/5 staple, exact: per class, part count, revenue
    * cents, and revenue share ppm.
    *
    * Scale shape: revenue is one part-keyed aggregate; rank and
    * cumulative revenue are the q91/PrefixScan two-phase passes over
    * the parts frame; class assignment is pure arithmetic against the
    * 1-row total broadcast; the report is a ≤3-row fold.
    */
  def q214_abc_classification(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    val ranked = DenseIds.withDenseId(rev, "rid", 16,
      col("cents").desc, col("l_partkey"))
    val cum = PrefixScan.prefixSumsInclusive(ranked, 16, Seq(col("rid")),
      Seq((col("cents"), "cum_cents")))
    val total = rev.agg(sum(col("cents")).as("total_cents"))
    cum.crossJoin(broadcast(total))
      .withColumn("clazz",
        when(col("cum_cents") * 100 <= col("total_cents") * 80, "A")
          .when(col("cum_cents") * 100 <= col("total_cents") * 95, "B")
          .otherwise(lit("C")))
      .groupBy(col("clazz"), col("total_cents"))
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"))
      .select(col("clazz"), col("n_parts"), col("cents"),
        expr("cents * 1000000 div total_cents").as("share_ppm"))
      .orderBy(col("clazz"))
  }

  val q214Sql: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM lineitem GROUP BY l_partkey
      |), r AS (
      |  SELECT cents,
      |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_cents
      |  FROM rev
      |), t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM rev)
      |SELECT CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
      |  WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
      |  ELSE 'C' END AS clazz,
      |  count(*) AS n_parts, CAST(sum(cents) AS BIGINT) AS cents,
      |  CAST(sum(cents) * 1000000 // total_cents AS BIGINT) AS share_ppm
      |FROM r, t
      |GROUP BY clazz, total_cents
      |ORDER BY clazz""".stripMargin

  // --------------------------------------------------------------- q215

  /** q215: fulfillment latency SLA by order priority — order-to-ship
    * latency in exact days per lineitem, with p50/p90 per priority as
    * ceil-rank order statistics (q160's spelling) and the share of
    * lines shipping within 30 days in ppm. The ops SLA readout.
    *
    * Scale shape: the join is key-partitioned on orderkey with the
    * latency computed in the projection; percentile machinery runs on
    * per-(priority, latency) COUNT frames (latency is small-domain
    * integer days) with priority-partitioned cumulative windows —
    * parallel across priorities; totals broadcast.
    */
  def q215_fulfillment_latency(s: SparkSession, dir: String): DataFrame = {
    val lat = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        (datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date"))).cast("long").as("days"))
    val counts = lat.groupBy(col("priority"), col("days"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("priority")).orderBy(col("days"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = counts.withColumn("cum", sum(col("cnt")).over(w))
    val totals = lat.groupBy(col("priority"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("days") <= 30, 1L).otherwise(0L)).as("n_within30"))
    cum.join(broadcast(totals), "priority")
      .groupBy(col("priority"), col("n"), col("n_within30"))
      .agg(
        min(when(col("cum") >= expr("(n + 1) div 2"), col("days"))).as("p50_days"),
        min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("days"))).as("p90_days"))
      .select(col("priority"), col("n").as("n_lines"), col("p50_days"),
        col("p90_days"),
        expr("n_within30 * 1000000 div n").as("within30_ppm"))
      .orderBy(col("priority"))
  }

  val q215Sql: String =
    """WITH lat AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(datediff('day', CAST(o_orderdate AS DATE),
      |      CAST(l_shipdate AS DATE)) AS BIGINT) AS days
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), c AS (
      |  SELECT priority, days, count(*) AS cnt
      |  FROM lat GROUP BY priority, days
      |), cum AS (
      |  SELECT priority, days, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY priority ORDER BY days
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM c
      |), t AS (
      |  SELECT priority, count(*) AS n,
      |    CAST(sum(CASE WHEN days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_within30
      |  FROM lat GROUP BY priority
      |)
      |SELECT cum.priority, n AS n_lines,
      |  min(CASE WHEN cum >= (n + 1) // 2 THEN days END) AS p50_days,
      |  min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN days END) AS p90_days,
      |  CAST(n_within30 * 1000000 // n AS BIGINT) AS within30_ppm
      |FROM cum JOIN t ON cum.priority = t.priority
      |GROUP BY cum.priority, n, n_within30
      |ORDER BY cum.priority""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q213_twap", q213_twap _, q213Sql),
    Query("q214_abc_classification", q214_abc_classification _, q214Sql),
    Query("q215_fulfillment_latency", q215_fulfillment_latency _, q215Sql)
  )
}
