package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan
import QueryBlocks.spendBySegment

/** Sequential records, exact rank-percentile
  * surface, and robust variance-equality testing.
  *
  *  - q410 revenue record days — the days whose daily revenue beats
  *    every prior day, with the gap to the next record: the
  *    "new-high" cadence an ops review reads for momentum. Running
  *    maxima ride PrefixScan; the record set is tiny, so the
  *    next-record probe is a bounded self-join.
  *  - q411 percent_rank / cume_dist in exact ppm — the window-rank
  *    surface without the FP division Spark's percent_rank() bakes
  *    in: (rank−1)·10⁶ div (n−1) and (rank+ties−1)·10⁶ div n per
  *    segment, hashable bit-exactly cross-engine.
  *  - q412 Brown–Forsythe variance-equality test — the
  *    median-deviation Levene variant (robust to non-normality):
  *    z = |spend − group median| (the group median is
  *    percentile_disc(0.5), exact on both engines), then the ANOVA
  *    F on z via q387's pre-divided integer idiom, F in milli.
  *    Complements q407 (location) with the scale test.
  */
object ExtensionQueries108 extends QueryGroup {

  // -------------------------------------------------------------- q410

  /** q410: record-high revenue days. Scale shape: daily rollup, one
    * range-partitioned prefix-max, then an O(R²) self-join on the
    * R ≈ dozens record rows (records of an i.i.d.-ish series grow
    * ~log n — bounded in practice; the join is on the post-filter
    * frame, never the daily series).
    */
  def q410_record_days(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100").as("x"))
    // the record set is bounded by the calendar (daily rows are the fixed
    // order span at every sf) — declare it (sort+limit) so the next-record
    // probe plans as a broadcast BNLJ over a bounded build side
    val records = PrefixScan.prefixMaxExclusive(daily, "premax", 16,
        col("x"), col("day"))
      .filter(col("premax").isNull || col("x") > col("premax"))
      .select(col("day"), col("x"))
      .orderBy(col("day")).limit(10000)
    records.as("a").join(broadcast(records.as("b")), col("b.day") > col("a.day"), "left")
      .groupBy(col("a.day").as("record_day"), col("a.x").as("dollars"))
      .agg(min(col("b.day")).as("nx"))
      .select(col("record_day"), col("dollars"),
        coalesce(col("nx"), lit(-1L)).as("next_record_day"),
        coalesce(col("nx") - col("record_day"), lit(-1L)).as("gap_days"))
      .orderBy(col("record_day"))
  }

  val q410Sql: String =
    """WITH daily AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS x
      |  FROM orders GROUP BY 1
      |), r AS (
      |  SELECT day, x,
      |    max(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING) AS premax
      |  FROM daily
      |), rec AS (
      |  SELECT day, x FROM r WHERE premax IS NULL OR x > premax
      |)
      |SELECT a.day AS record_day, a.x AS dollars,
      |  coalesce(min(b.day), -1) AS next_record_day,
      |  coalesce(min(b.day) - a.day, -1) AS gap_days
      |FROM rec a LEFT JOIN rec b ON b.day > a.day
      |GROUP BY a.day, a.x ORDER BY record_day""".stripMargin

  // -------------------------------------------------------------- q411

  /** q411: exact-ppm percent_rank and cume_dist of customer spend
    * within each segment. Scale shape: one partitioned window pass
    * (segment-partitioned — never a global window); all divisions are
    * integer ppm.
    */
  def q411_percent_rank_ppm(s: SparkSession, dir: String): DataFrame = {
    val sp = spendBySegment(s, dir)
      .select(col("o_custkey").as("custkey"), col("seg"), col("v"))
    import org.apache.spark.sql.expressions.Window
    val bySeg = Window.partitionBy(col("seg")).orderBy(col("v"))
    val sized = Window.partitionBy(col("seg"))
    val tied = Window.partitionBy(col("seg"), col("v"))
    // rank() is INT — widen before the ppm scaling (INT·10⁶ overflows
    // past rank ~2147, which sf0.1's 3000-customer segments exceed)
    sp.withColumn("r", rank().over(bySeg).cast("long"))
      .withColumn("n_g", count(lit(1)).over(sized))
      .withColumn("t", count(lit(1)).over(tied))
      .select(col("custkey"), col("seg"), col("v").as("spend_dollars"),
        expr("CASE WHEN n_g = 1 THEN 0 ELSE (r - 1) * 1000000 div (n_g - 1) END")
          .as("pr_ppm"),
        expr("(r + t - 1) * 1000000 div n_g").as("cume_ppm"))
      .orderBy(col("seg"), col("custkey"))
  }

  val q411Sql: String =
    """WITH sp AS (
      |  SELECT o.o_custkey AS custkey, c.c_mktsegment AS seg,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY o.o_custkey, c.c_mktsegment
      |), w AS (
      |  SELECT custkey, seg, v,
      |    rank() OVER (PARTITION BY seg ORDER BY v) AS r,
      |    count(*) OVER (PARTITION BY seg) AS n_g,
      |    count(*) OVER (PARTITION BY seg, v) AS t
      |  FROM sp
      |)
      |SELECT custkey, seg, v AS spend_dollars,
      |  CASE WHEN n_g = 1 THEN 0
      |    ELSE (r - 1) * 1000000 // (n_g - 1) END AS pr_ppm,
      |  (r + t - 1) * 1000000 // n_g AS cume_ppm
      |FROM w ORDER BY seg, custkey""".stripMargin

  // -------------------------------------------------------------- q412

  /** q412: Brown–Forsythe F (milli) for equality of spend SPREAD
    * across segments. z = |v − median_g| in whole dollars (exact:
    * percentile_disc median, integer subtraction); then
    * F = (N−k)/(k−1) · SSB(z)/SSW(z) with SSB via the pre-divided
    * e_g idiom and SSW = SST − SSB at the n² scale. Every quotient
    * fits a LONG; products stay inside DECIMAL(38,0) through sf1.
    */
  def q412_brown_forsythe(s: SparkSession, dir: String): DataFrame = {
    val sp = spendBySegment(s, dir)
      .select(col("seg"), col("v"))
    // percentile_disc returns DOUBLE; the value is an exact data point
    // (whole dollars, far below 2^53), so the BIGINT cast is lossless
    val med = sp.groupBy(col("seg"))
      .agg(expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT)")
        .as("med"))
    val z = sp.join(broadcast(med), "seg")
      .select(col("seg"), abs(col("v") - col("med")).as("z"))
    val tot = z.agg(count(lit(1)).as("n"), sum(col("z")).as("s1"),
      sum(expr("CAST(z AS DECIMAL(38,0)) * z")).as("s2"))
    val groups = z.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_g"), sum(col("z")).as("s_g"))
    val num = groups.crossJoin(broadcast(tot))
      .select(expr("(n * s_g - n_g * s1) div n_g").as("e_g"), col("n_g"))
      .select(expr("CAST(n_g AS DECIMAL(38,0)) * e_g * e_g").as("contrib"))
      .agg(sum(col("contrib")).as("ssb_n2"), count(lit(1)).as("k"))
    tot.crossJoin(broadcast(num))
      .select(col("n").as("n_customers"), col("k").as("k_groups"),
        expr("CAST((n - k) * ssb_n2 * 1000 div ((k - 1) * " +
          "(CAST(n AS DECIMAL(38,0)) * (n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1) " +
          "- ssb_n2)) AS BIGINT)").as("f_milli"))
  }

  val q412Sql: String =
    """WITH sp AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY o.o_custkey, c.c_mktsegment
      |), med AS (
      |  SELECT seg, quantile_disc(v, 0.5) AS med FROM sp GROUP BY seg
      |), z AS (
      |  SELECT sp.seg, abs(sp.v - med.med) AS z FROM sp JOIN med USING (seg)
      |), tot AS (
      |  SELECT count(*) AS n, CAST(sum(z) AS BIGINT) AS s1,
      |    CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS s2
      |  FROM z
      |), g AS (
      |  SELECT seg, count(*) AS n_g, CAST(sum(z) AS BIGINT) AS s_g FROM z GROUP BY seg
      |), num AS (
      |  SELECT CAST(sum(CAST(g.n_g AS HUGEINT) *
      |      ((tot.n * g.s_g - g.n_g * tot.s1) // g.n_g) *
      |      ((tot.n * g.s_g - g.n_g * tot.s1) // g.n_g)) AS HUGEINT) AS ssb_n2,
      |    count(*) AS k
      |  FROM g, tot
      |)
      |SELECT tot.n AS n_customers, num.k AS k_groups,
      |  CAST((tot.n - num.k) * num.ssb_n2 * 1000 // ((num.k - 1) *
      |    (CAST(tot.n AS HUGEINT) * (tot.n * tot.s2 - CAST(tot.s1 AS HUGEINT) * tot.s1)
      |    - num.ssb_n2)) AS BIGINT) AS f_milli
      |FROM tot, num""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q410_record_days", q410_record_days _, q410Sql),
    Query("q411_percent_rank_ppm", q411_percent_rank_ppm _, q411Sql),
    Query("q412_brown_forsythe", q412_brown_forsythe _, q412Sql)
  )
}
