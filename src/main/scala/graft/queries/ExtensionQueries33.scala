package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 21: storage-layout planning, robust distribution
  * reporting, and corpus lexicography — exact-integer,
  * DuckDB-oracle-gated.
  *
  *  - q193: file-compaction bin planner — the OPTIMIZE/bin-packing
  *    mechanic that turns small-file soup into target-sized files.
  *  - q194: per-segment box-plot table (quartiles + Tukey outliers) —
  *    the robust five-number summary, exact.
  *  - q195: lexical diversity per source (TTR, hapax rate) — the
  *    corpus-quality signal behind dedup/quality gates.
  */
object ExtensionQueries33 extends QueryGroup {

  // --------------------------------------------------------------- q193

  /** q193: compaction bin planner — within each source, documents are
    * packed in doc_id order into bins that close once the running byte
    * count crosses the 8 KiB target: `bin = exclusivePrefixBytes div
    * target` (a bin may overshoot by at most one document — exactly the
    * Delta/Iceberg OPTIMIZE first-fit contract). Report per (source,
    * bin): file count and bytes.
    *
    * Scale shape: the running sum is a source-partitioned window —
    * parallel across sources, and a production run would sub-bucket the
    * scan order (the q91 two-phase shape) if one source dominated; the
    * report is a (source, bin)-keyed aggregate. No global ordering
    * anywhere.
    */
  def q193_compaction_plan(s: SparkSession, dir: String): DataFrame = {
    val target = 8192L
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("excl", coalesce(sum(col("n_chars")).over(w), lit(0L)))
      .withColumn("bin", expr(s"excl div $target"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
      .orderBy(col("source"), col("bin"))
  }

  val q193Sql: String =
    """WITH d AS (
      |  SELECT source, doc_id, n_chars,
      |    COALESCE(CAST(sum(n_chars) OVER (PARTITION BY source
      |      ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |      0) AS excl
      |  FROM documents
      |)
      |SELECT source, excl // 8192 AS bin, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS bytes
      |FROM d
      |GROUP BY source, bin
      |ORDER BY source, bin""".stripMargin

  // --------------------------------------------------------------- q194

  /** q194: per-market-segment box-plot table over customer balances —
    * exact ceil-rank quartiles (q160's `(n·k + 3) div 4` spelling —
    * never float interpolation), IQR, and Tukey outliers counted with
    * the cross-multiplied integer test `2·(x − q3) > 3·iqr` /
    * `2·(q1 − x) > 3·iqr` (the 1.5×IQR fences without ever forming
    * 1.5). Balances are exact cents (may be negative — `div` truncation
    * is avoided entirely; only multiplication and comparison).
    *
    * Scale shape: the per-(segment, cents) count aggregate is the only
    * customer-sized pass; cumulative counts ride a segment-partitioned
    * window over the distinct-value frame (parallel across segments;
    * sub-bucket via the q91 two-phase shape if one segment dominated);
    * quartile selection folds with conditional mins; the outlier count
    * is a second pass over the SAME small frame with the 5-row quartile
    * table broadcast.
    */
  def q194_boxplot_segments(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("segment"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
    val counts = c.groupBy(col("segment"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("segment")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = counts.withColumn("cum", sum(col("cnt")).over(w))
    val totals = c.groupBy(col("segment")).agg(count(lit(1)).as("n"))
    val quart = cum.join(totals, "segment")
      .groupBy(col("segment"), col("n"))
      .agg(
        min(when(col("cum") >= expr("(n * 1 + 3) div 4"), col("cents"))).as("q1"),
        min(when(col("cum") >= expr("(n * 2 + 3) div 4"), col("cents"))).as("q2"),
        min(when(col("cum") >= expr("(n * 3 + 3) div 4"), col("cents"))).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
    counts.join(broadcast(quart), "segment")
      .groupBy(col("segment"), col("n"), col("q1"), col("q2"), col("q3"),
        col("iqr"))
      .agg(sum(when(
        expr("2 * (cents - q3) > 3 * iqr or 2 * (q1 - cents) > 3 * iqr"),
        col("cnt")).otherwise(0L)).as("n_outliers"))
      .select(col("segment"), col("n"), col("q1"), col("q2"), col("q3"),
        col("iqr"), col("n_outliers"))
      .orderBy(col("segment"))
  }

  val q194Sql: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer
      |), cc AS (
      |  SELECT segment, cents, count(*) AS cnt
      |  FROM c GROUP BY segment, cents
      |), cum AS (
      |  SELECT segment, cents, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY segment ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM cc
      |), t AS (
      |  SELECT segment, count(*) AS n FROM c GROUP BY segment
      |), q AS (
      |  SELECT cum.segment, t.n,
      |    min(CASE WHEN cum >= (n * 1 + 3) // 4 THEN cents END) AS q1,
      |    min(CASE WHEN cum >= (n * 2 + 3) // 4 THEN cents END) AS q2,
      |    min(CASE WHEN cum >= (n * 3 + 3) // 4 THEN cents END) AS q3
      |  FROM cum JOIN t ON cum.segment = t.segment
      |  GROUP BY cum.segment, t.n
      |)
      |SELECT q.segment, q.n, q.q1, q.q2, q.q3, q.q3 - q.q1 AS iqr,
      |  CAST(sum(CASE WHEN 2 * (cc.cents - q.q3) > 3 * (q.q3 - q.q1)
      |    OR 2 * (q.q1 - cc.cents) > 3 * (q.q3 - q.q1)
      |    THEN cc.cnt ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM cc JOIN q ON cc.segment = q.segment
      |GROUP BY q.segment, q.n, q.q1, q.q2, q.q3
      |ORDER BY q.segment""".stripMargin

  // --------------------------------------------------------------- q195

  /** q195: lexical diversity per source — token occurrences, distinct
    * types, hapax legomena (types seen exactly once), type-token ratio
    * and hapax share in exact ppm. The corpus-health panel: a crashing
    * TTR flags boilerplate/duplication, a crashing hapax rate flags
    * template text — the cheap signals that gate the expensive dedup
    * tiers.
    *
    * Scale shape: one (source, token)-keyed count (map-side combined,
    * the only corpus-sized pass), then a source-keyed rollup of the
    * vocab frame. Whitespace tokenization matches the corpus mirrors
    * (`string_split(text, ' ')`).
    */
  def q195_lexical_diversity(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
        expr("n_hapax * 1000000 div n_types").as("hapax_ppm"))
      .orderBy(col("source"))
  }

  val q195Sql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), c AS (
      |  SELECT source, tok, count(*) AS cnt FROM toks GROUP BY source, tok
      |)
      |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |  count(*) AS n_types,
      |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(count(*) * 1000000 // sum(cnt) AS BIGINT) AS ttr_ppm,
      |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
      |    AS BIGINT) AS hapax_ppm
      |FROM c
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q193_compaction_plan", q193_compaction_plan _, q193Sql),
    Query("q194_boxplot_segments", q194_boxplot_segments _, q194Sql),
    Query("q195_lexical_diversity", q195_lexical_diversity _, q195Sql)
  )
}
