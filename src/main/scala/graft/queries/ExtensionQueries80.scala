package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan

/** Round-12 batch 6: optimizer-stat and operations percentile
  * primitives — the exact-order-statistic family around q135's profiler
  * and q203's skew report.
  *
  *  - q332 equi-DEPTH histogram: the CBO histogram ANALYZE TABLE
  *    actually builds (q169 is equi-width): decile BOUNDARIES of
  *    o_totalprice cents as exact ceil-rank order statistics, with the
  *    true per-bucket row mass (ties make buckets uneven — reported,
  *    not hidden).
  *  - q333 latency percentile bands: exact p50/p90/p99
  *    order-to-fulfillment days per order priority — the SLO table an
  *    ops review reads; same ceil-rank idiom, never percentile_approx
  *    and never a global sort.
  *  - q334 join-multiplicity histogram: BEFORE running a join, the
  *    log₂-bucketed distribution of per-key output cardinality
  *    |L(k)|·|O(k)| — the join-explosion detector that complements
  *    q203's top-skewed-keys list with the full shape (and q111's
  *    sketch estimate with the exact census).
  *
  * All three ride value-keyed counts + the distributed prefix-sum /
  * map-side-combined aggregates; integer bit-length (= ⌊log₂⌋ + 1)
  * buckets keep q334 cross-engine exact.
  */
object ExtensionQueries80 extends QueryGroup {

  // --------------------------------------------------------------- q332

  /** q332: decile boundaries of order value — boundary k (k = 1..10) is
    * the exact ⌈n·k/10⌉-th smallest cents value (the q183 ceil-rank
    * spelling); per bucket, the actual row count landing in
    * (boundary_{k−1}, boundary_k].
    */
  def q332_equidepth_hist(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
    val counts = o.groupBy(col("cents")).agg(count(lit(1)).as("c"))
    val cum = PrefixScan.prefixSumsInclusive(counts, 32, Seq(col("cents")),
      Seq((col("c"), "cum")))
    val tot = o.agg(count(lit(1)).as("n"))
    val ks = s.range(1, 11).select(col("id").as("k"))
    val bounds = cum.crossJoin(broadcast(tot)).crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(min(when(col("cum") >= expr("(n * k + 9) div 10"), col("cents")))
        .as("boundary_cents"))
    // true bucket mass: rows with boundary_{k-1} < cents <= boundary_k,
    // via the cum at each boundary (cum is the count of rows <= value);
    // the previous boundary arrives by an equi self-join on k−1 over the
    // 10-row decile frame — not a window (the frame is bounded in fact
    // but not provably, and the gate rightly rejects global windows)
    val cumAt = bounds.join(cum, bounds("boundary_cents") === cum("cents"))
      .select(col("k"), col("boundary_cents"), col("cum"))
    val prev = cumAt.select((col("k") + 1).as("k"), col("cum").as("prev_cum"))
    cumAt.join(prev, Seq("k"), "left")
      .na.fill(0L, Seq("prev_cum"))
      .select(col("k"), col("boundary_cents"),
        (col("cum") - col("prev_cum")).as("n_rows"))
      .orderBy(col("k"))
  }

  val q332Sql: String =
    """WITH o AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
      |), cnt AS (SELECT cents, count(*) AS c FROM o GROUP BY cents
      |), cum AS (
      |  SELECT cents, CAST(sum(c) OVER (ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM cnt
      |), t AS (SELECT count(*) AS n FROM o
      |), ks AS (SELECT unnest(range(1, 11)) AS k
      |), b AS (
      |  SELECT k,
      |    min(CASE WHEN cum >= (n * k + 9) // 10 THEN cents END) AS boundary_cents
      |  FROM cum, t, ks GROUP BY k
      |), ca AS (
      |  SELECT b.k, b.boundary_cents, cum.cum
      |  FROM b JOIN cum ON b.boundary_cents = cum.cents
      |)
      |SELECT ca.k, ca.boundary_cents,
      |  CAST(ca.cum - coalesce(p.cum, 0) AS BIGINT) AS n_rows
      |FROM ca LEFT JOIN ca p ON ca.k = p.k + 1
      |ORDER BY ca.k""".stripMargin

  // --------------------------------------------------------------- q333

  /** q333: exact p50/p90/p99 fulfillment latency (order→ship days over
    * lineitems, `l_shipdate − o_orderdate` in days) per order priority.
    * One latency-keyed count exchange per group; the three ranks fold
    * from the same per-group cum frame.
    */
  def q333_latency_percentiles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("ship"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
        col("o_orderdate").cast("date").as("odate"))
    val lat = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("prio"), datediff(col("ship"), col("odate")).cast("long").as("days"))
    val counts = lat.groupBy(col("prio"), col("days")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prio")).orderBy(col("days"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = lat.groupBy(col("prio")).agg(count(lit(1)).as("n"))
    counts.withColumn("cum", sum(col("c")).over(w))
      .join(tot, "prio")
      .groupBy(col("prio"), col("n"))
      .agg(
        min(when(col("cum") >= expr("(n * 50 + 99) div 100"), col("days"))).as("p50_days"),
        min(when(col("cum") >= expr("(n * 90 + 99) div 100"), col("days"))).as("p90_days"),
        min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("days"))).as("p99_days"))
      .select(col("prio"), col("n").as("n_lineitems"),
        col("p50_days"), col("p90_days"), col("p99_days"))
      .orderBy(col("prio"))
  }

  val q333Sql: String =
    """WITH lat AS (
      |  SELECT o.o_orderpriority AS prio,
      |    CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
      |      CAST(l.l_shipdate AS DATE)) AS BIGINT) AS days
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |), cnt AS (
      |  SELECT prio, days, count(*) AS c FROM lat GROUP BY 1, 2
      |), cum AS (
      |  SELECT prio, days,
      |    CAST(sum(c) OVER (PARTITION BY prio ORDER BY days
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(sum(c) OVER (PARTITION BY prio) AS BIGINT) AS n
      |  FROM cnt
      |)
      |SELECT prio, n AS n_lineitems,
      |  min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN days END) AS p50_days,
      |  min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN days END) AS p90_days,
      |  min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN days END) AS p99_days
      |FROM cum GROUP BY prio, n ORDER BY prio""".stripMargin

  // --------------------------------------------------------------- q334

  /** q334: join-multiplicity census for lineitem ⋈ orders on orderkey —
    * per log₂ bucket of the per-key output cardinality |L(k)|·|O(k)|:
    * how many keys, and how many output rows they would produce. The
    * exact shape behind q111's sketch estimate; the explosion detector
    * read before shipping a join at 100 TB.
    */
  def q334_join_multiplicity(s: SparkSession, dir: String): DataFrame = {
    val lc = Tables.lineitem(s, dir).groupBy(col("l_orderkey").as("k"))
      .agg(count(lit(1)).as("nl"))
    val oc = Tables.orders(s, dir).groupBy(col("o_orderkey").as("k"))
      .agg(count(lit(1)).as("no"))
    lc.join(oc, Seq("k"), "full")
      .na.fill(0L, Seq("nl", "no"))
      .select((col("nl") * col("no")).as("m"))
      // ⌊log₂ m⌋+1 as INTEGER bit length (length of the binary string,
      // the q105 idiom) — floor(log2()) would hang the bucket boundary
      // on a libm ulp
      .groupBy(when(col("m") === 0, lit(0L))
        .otherwise(length(bin(col("m"))).cast("long")).as("log2_bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("m")).as("output_rows"))
      .orderBy(col("log2_bucket"))
  }

  val q334Sql: String =
    """WITH lc AS (
      |  SELECT l_orderkey AS k, count(*) AS nl FROM lineitem GROUP BY 1
      |), oc AS (
      |  SELECT o_orderkey AS k, count(*) AS no FROM orders GROUP BY 1
      |), m AS (
      |  SELECT coalesce(nl, 0) * coalesce(no, 0) AS m
      |  FROM lc FULL JOIN oc USING (k)
      |)
      |SELECT CASE WHEN m = 0 THEN 0
      |    ELSE CAST(length(bin(m)) AS BIGINT) END AS log2_bucket,
      |  count(*) AS n_keys, CAST(sum(m) AS BIGINT) AS output_rows
      |FROM m GROUP BY 1 ORDER BY log2_bucket""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q332_equidepth_hist", q332_equidepth_hist _, q332Sql),
    Query("q333_latency_percentiles", q333_latency_percentiles _, q333Sql),
    Query("q334_join_multiplicity", q334_join_multiplicity _, q334Sql)
  )
}
