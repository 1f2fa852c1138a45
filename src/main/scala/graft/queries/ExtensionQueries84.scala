package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan

/** Round-12 batch 10: uncertainty without randomness, the
  * shard-aggregation honesty check, and the GROUP BY ALL surface.
  *
  *  - q344 deterministic jackknife: a standard error for the mean
  *    WITHOUT rand() — 10 delete-one-decile replicates keyed by the
  *    two-round MINSTD hash (the q305 sampling contract), replicate
  *    means by bucket-complement arithmetic from ONE scan (never ten),
  *    and the jackknife SE in cents via the cross-multiplied sum of
  *    squares + the floor(sqrt) safe path.
  *  - q345 median-of-medians bias audit: the number that explains why
  *    per-shard medians must NOT be averaged at 100 TB — exact lower
  *    median per hash shard, the median of those medians, and its
  *    signed ppm gap to the TRUE median (computed by the distributed
  *    prefix-sum idiom). The mergeable-quantile alternative is q82's GK
  *    sketch; this query prices the naive shortcut.
  *  - q346 GROUP BY ALL / ORDER BY ALL: the grouping-inference SQL
  *    surface, certified against DuckDB's (which defined it).
  */
object ExtensionQueries84 extends QueryGroup {

  /** Two-round MINSTD (the q308 lesson: one round is order-preserving
    * on small ids and its low bits cycle).
    */
  private def minstd2(c: String): String =
    s"(48271L * ((69621L * (($c) + 1) % 2147483647L) + 1) % 2147483647L)"

  // --------------------------------------------------------------- q344

  /** q344: jackknife SE of mean order value — B = 10 replicates, each
    * dropping the orders whose hash lands in one decile bucket.
    * One bucket-keyed aggregate; replicate sums are complements of the
    * global totals; SE = √((B−1)/B · Σ(m_r − m̄)²) spelled as
    * floor(sqrt((B−1)·Σ(B·m_r − Σm)² div B³)) — all integer until the
    * one correctly-rounded sqrt.
    */
  def q344_jackknife_se(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
        expr(s"${minstd2("o_orderkey")} % 10").as("bucket"))
    val buckets = o.groupBy(col("bucket"))
      .agg(sum(col("cents")).as("bs"), count(lit(1)).as("bc"))
    val tot = o.agg(sum(col("cents")).as("ts"), count(lit(1)).as("tc"))
    val reps = buckets.crossJoin(broadcast(tot))
      .select(col("bucket"),
        expr("(ts - bs) div (tc - bc)").as("m_r"))
    val stats = reps.agg(sum(col("m_r")).as("sm"), count(lit(1)).as("b"))
    reps.crossJoin(broadcast(stats))
      .select(col("m_r"), col("sm"), col("b"))
      .agg(first(col("sm")).as("sm"), first(col("b")).as("b"),
        sum(expr("(b * m_r - sm) * (b * m_r - sm)")).as("ssq"))
      .crossJoin(broadcast(tot))
      .select(expr("ts div tc").as("mean_cents"),
        col("b").as("n_replicates"),
        expr("sm div b").as("replicate_mean_cents"),
        col("ssq").as("jk_ssq"),
        floor(sqrt(expr("CAST((b - 1) * ssq div (b * b * b) AS DOUBLE)")))
          .cast("long").as("se_cents"))
  }

  val q344Sql: String = {
    val h = minstd2("o_orderkey").replace("L", "")
    s"""WITH o AS (
       |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       |    $h % 10 AS bucket
       |  FROM orders
       |), bk AS (
       |  SELECT bucket, CAST(sum(cents) AS BIGINT) AS bs, count(*) AS bc
       |  FROM o GROUP BY bucket
       |), t AS (
       |  SELECT CAST(sum(cents) AS BIGINT) AS ts, count(*) AS tc FROM o
       |), reps AS (
       |  SELECT (ts - bs) // (tc - bc) AS m_r FROM bk, t
       |), st AS (
       |  SELECT CAST(sum(m_r) AS BIGINT) AS sm, count(*) AS b FROM reps
       |), q AS (
       |  SELECT CAST(sum((b * m_r - sm) * (b * m_r - sm)) AS BIGINT) AS ssq,
       |    min(sm) AS sm, min(b) AS b
       |  FROM reps, st
       |)
       |SELECT CAST(ts // tc AS BIGINT) AS mean_cents,
       |  CAST(b AS BIGINT) AS n_replicates,
       |  CAST(sm // b AS BIGINT) AS replicate_mean_cents,
       |  ssq AS jk_ssq,
       |  CAST(floor(sqrt(CAST((b - 1) * ssq // (b * b * b) AS DOUBLE)))
       |    AS BIGINT) AS se_cents
       |FROM q, t""".stripMargin
  }

  // --------------------------------------------------------------- q345

  /** q345: exact lower median per hash shard → lower median of the 8
    * shard medians → signed ppm gap against the TRUE lower median.
    */
  def q345_median_of_medians_bias(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
        expr(s"${minstd2("o_orderkey")} % 8").as("shard"))
    // per-shard lower median: shard-partitioned cum counts
    val cnt = o.groupBy(col("shard"), col("cents")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("shard")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val nPer = o.groupBy(col("shard")).agg(count(lit(1)).as("n"))
    val shardMed = cnt.withColumn("cum", sum(col("c")).over(w))
      .join(nPer, "shard")
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("shard")).agg(min(col("cents")).as("med"))
    // lower median of the 8 shard medians (bounded frame: array fold)
    val mom = shardMed.agg(
      expr("element_at(array_sort(collect_list(med)), " +
        "CAST((size(collect_list(med)) + 1) div 2 AS INT))").as("mom_cents"),
      count(lit(1)).as("n_shards"))
    // true lower median via the distributed prefix sum
    val gcnt = o.groupBy(col("cents")).agg(count(lit(1)).as("c"))
    val gcum = PrefixScan.prefixSumsInclusive(gcnt, 32, Seq(col("cents")),
      Seq((col("c"), "cum")))
    val gtot = o.agg(count(lit(1)).as("n"))
    val trueMed = gcum.crossJoin(broadcast(gtot))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min(col("cents")).as("true_med_cents"))
    mom.crossJoin(broadcast(trueMed))
      .select(col("n_shards"), col("true_med_cents"), col("mom_cents"),
        expr("(mom_cents - true_med_cents) * 1000000L div true_med_cents")
          .as("gap_ppm"))
  }

  val q345Sql: String = {
    val h = minstd2("o_orderkey").replace("L", "")
    s"""WITH o AS (
       |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       |    $h % 8 AS shard
       |  FROM orders
       |), cnt AS (
       |  SELECT shard, cents, count(*) AS c FROM o GROUP BY 1, 2
       |), cum AS (
       |  SELECT shard, cents,
       |    CAST(sum(c) OVER (PARTITION BY shard ORDER BY cents
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(c) OVER (PARTITION BY shard) AS BIGINT) AS n
       |  FROM cnt
       |), sm AS (
       |  SELECT shard, min(cents) AS med FROM cum
       |  WHERE cum >= (n + 1) // 2 GROUP BY shard
       |), mom AS (
       |  SELECT count(*) AS n_shards,
       |    list_sort(list(med))[(count(*) + 1) // 2] AS mom_cents
       |  FROM sm
       |), gcum AS (
       |  SELECT cents,
       |    CAST(sum(c) OVER (ORDER BY cents
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM (SELECT cents, count(*) AS c FROM o GROUP BY cents)
       |), gt AS (SELECT count(*) AS n FROM o
       |), tm AS (
       |  SELECT min(cents) AS true_med_cents FROM gcum, gt
       |  WHERE cum >= (n + 1) // 2
       |)
       |SELECT n_shards, true_med_cents, CAST(mom_cents AS BIGINT) AS mom_cents,
       |  CAST((mom_cents - true_med_cents) * 1000000
       |    // true_med_cents AS BIGINT) AS gap_ppm
       |FROM mom, tm""".stripMargin
  }

  // --------------------------------------------------------------- q346

  /** q346: GROUP BY ALL infers the grouping set from the select list;
    * ORDER BY ALL orders by every output column — certified against
    * DuckDB's original semantics.
    */
  def q346_group_by_all(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         |    AS price_cents
         |FROM parquet.`$dir/lineitem.parquet`
         |GROUP BY ALL ORDER BY ALL""".stripMargin)

  val q346Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q344_jackknife_se", q344_jackknife_se _, q344Sql),
    Query("q345_median_of_medians_bias", q345_median_of_medians_bias _, q345Sql),
    Query("q346_group_by_all", q346_group_by_all _, q346Sql)
  )
}
