package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 3: warehouse-layout and training-split infrastructure,
  * plus two event-mining operators.
  *
  *  - q137: bucketed co-located join — BOTH sides written bucketed on
  *    the join key, so the join runs with ZERO exchange on either side
  *    (the classic warehouse layout for repeated big-big joins).
  *  - q138: exact stratified train/test split — per-stratum 80/20 with
  *    EXACT counts (not hash-threshold approximation), via the q91
  *    two-phase dense-rank (never a per-stratum single-reducer window).
  *  - q139: top event trigrams — the sequential-pattern n-gram miner
  *    over per-user ordered event streams.
  *  - q140: seasonal anomaly detection — hourly activity vs the
  *    (weekday, hour) median baseline, flagged by robust MAD bands.
  */
object ExtensionQueries15 extends QueryGroup {

  // --------------------------------------------------------------- q137

  /** Buckets per side. Both sides MUST agree for exchange-free planning;
    * at warehouse scale this is hundreds-to-thousands, sized so a bucket
    * fits an executor's sort buffer.
    */
  val JoinBuckets = 8

  /** q137: co-located join over bucketed layout — the write-side answer
    * to the repeated-join shuffle: `orders` and `customer` are both
    * written bucketed (and per-file sorted) on the customer key, so the
    * subsequent join's hash requirement is satisfied BY THE LAYOUT and
    * Catalyst plans a SortMergeJoin with no Exchange on either input
    * (BucketedJoinSpec pins that plan property; an unbucketed run of the
    * same join shuffles both sides). The aggregate answers revenue per
    * market segment — the result is layout-independent, which is what
    * the DuckDB mirror checks.
    *
    * Scale shape: the one-time bucketed write IS the cost (a full
    * shuffle each side); every subsequent join on the key is
    * exchange-free — the break-even is one repeated join, and a
    * warehouse joins on customer keys constantly. Bucket counts must
    * match; per-bucket sortBy makes the merge-sort read-through.
    */
  def q137_bucketed_join(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_bkt").toString
    Tables.orders(s, dir).write.mode("overwrite")
      .option("path", s"$base/orders")
      .bucketBy(JoinBuckets, "o_custkey").sortBy("o_custkey")
      .saveAsTable("graft_bkt_orders")
    Tables.customer(s, dir).write.mode("overwrite")
      .option("path", s"$base/customer")
      .bucketBy(JoinBuckets, "c_custkey").sortBy("c_custkey")
      .saveAsTable("graft_bkt_customer")
    val o = s.table("graft_bkt_orders")
    val c = s.table("graft_bkt_customer")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        count_distinct(col("c_custkey")).as("n_customers"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val q137Sql: String =
    """SELECT c_mktsegment,
      |  count(*) AS n_orders,
      |  count(DISTINCT c_custkey) AS n_customers,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
      |    AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------- q138

  /** q138: exact stratified train/test split over the documents corpus,
    * stratified by language. Hash-threshold splits (q53's shard shape)
    * give only EXPECTED proportions; training pipelines that promise
    * "exactly 80% per stratum" need per-stratum ranks. The naive
    * `row_number() OVER (PARTITION BY lang ...)` funnels each stratum
    * through one reducer — a stratum can be most of the corpus. Instead:
    * one GLOBAL two-phase dense rank over (lang, md5(doc_id), doc_id)
    * (q91's DenseIds: range-repartition + per-partition offsets), then
    * per-stratum rank = global id − stratum offset, where the offset is
    * each stratum's min id (a |strata|-row broadcast). train =
    * rank < ⌊0.8·n⌋ in exact integer math (n·4 div 5).
    *
    * Output per stratum: exact counts, the certified exactness flag, and
    * a mod-p checksum of the train membership (pins WHICH docs landed in
    * train, not just how many — the q126 convention).
    */
  def q138_stratified_split(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), md5(col("doc_id").cast("string")).as("h"))
    val ranked = graft.ops.DenseIds.withDenseId(
      docs, "gid", 32, col("lang"), col("h"), col("doc_id"))
    val strata = ranked.groupBy(col("lang"))
      .agg(min(col("gid")).as("off"), count(lit(1)).as("n"))
    ranked.join(broadcast(strata), "lang")
      .withColumn("rnk", col("gid") - col("off"))
      .withColumn("is_train", col("rnk") < expr("n * 4 div 5"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
        sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_test"),
        expr("sum(CASE WHEN is_train THEN doc_id ELSE 0 END) % 1000000007")
          .as("train_checksum"))
      .withColumn("split_exact", col("n_train") === expr("n_total * 4 div 5"))
      .select(col("lang"), col("n_total"), col("n_train"), col("n_test"),
        col("split_exact"), col("train_checksum"))
      .orderBy(col("lang"))
  }

  val q138Sql: String =
    """WITH ranked AS (
      |  SELECT doc_id, lang,
      |    row_number() OVER (
      |      PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rnk,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents
      |), flagged AS (
      |  SELECT doc_id, lang, n, rnk < n * 4 // 5 AS is_train FROM ranked
      |)
      |SELECT lang,
      |  count(*) AS n_total,
      |  CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      |  CAST(sum(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
      |  CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
      |    = max(n) * 4 // 5 AS split_exact,
      |  CAST(sum(CASE WHEN is_train THEN doc_id ELSE 0 END) % 1000000007 AS BIGINT)
      |    AS train_checksum
      |FROM flagged GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q139

  /** q139: most common event-type trigrams — sequential pattern mining
    * over per-user ordered event streams (the "what 3-step journeys
    * dominate" question behind funnel design; q121/q122 are its fixed-
    * pattern and 2-step siblings). Order within a user is (ts, event_id)
    * — a total order, so the trigram multiset is deterministic.
    *
    * Scale shape: the lead window partitions by user — thousands of
    * events per user at most, never a global window — and the trigram
    * count is a map-side-combined aggregate over ≤|event types|³ keys;
    * the top-10 is sort+limit (TakeOrderedAndProject).
    */
  def q139_event_trigrams(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("e1"))
      .withColumn("e2", lead(col("e1"), 1).over(w))
      .withColumn("e3", lead(col("e1"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("e1"), col("e2"), col("e3"))
      .limit(10)
  }

  val q139Sql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type AS e1,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      |  FROM events
      |)
      |SELECT e1, e2, e3, count(*) AS n_occurrences
      |FROM seq WHERE e3 IS NOT NULL
      |GROUP BY e1, e2, e3
      |ORDER BY n_occurrences DESC, e1, e2, e3 LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q140

  /** q140: seasonal anomaly detection over hourly event volume. Traffic
    * is seasonal by (weekday, hour); a global threshold flags every
    * Friday evening. Baseline per (ISO weekday, hour) = the MEDIAN
    * hourly count across the observed weeks; spread = the MAD (median
    * absolute deviation — robust: one real incident in the history
    * cannot inflate a stddev-based band). A (date, hour) cell is
    * anomalous when |n − median| > 3·MAD. Medians of integer counts are
    * exact halves at worst — bit-identical in both engines.
    *
    * Scale shape: the only full-data pass is the (date, hour) count —
    * map-side combined. Everything after runs on ~24·|days| rows: the
    * (dow, hour) baselines are ≤168-row aggregates (exact percentile on
    * a bounded group), joined back by broadcast. Scoped caches keep the
    * hourly and deviation frames single-computation across their two
    * consumers each.
    */
  def q140_seasonal_anomaly(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
    val hourly = graft.core.CacheScope.scoped(
      e.groupBy(
          to_date(col("event_ts")).as("day_date"),
          (weekday(col("event_ts")) + 1).cast("int").as("iso_dow"),
          hour(col("event_ts")).cast("int").as("hour_of_day"))
        .agg(count(lit(1)).as("n")))
    val med = hourly.groupBy(col("iso_dow"), col("hour_of_day"))
      .agg(expr("percentile(n, 0.5)").as("med_n"))
    val dev = graft.core.CacheScope.scoped(
      hourly.join(broadcast(med), Seq("iso_dow", "hour_of_day"))
        .withColumn("adev", abs(col("n") - col("med_n"))))
    val mad = dev.groupBy(col("iso_dow"), col("hour_of_day"))
      .agg(expr("percentile(adev, 0.5)").as("mad_n"))
    dev.join(broadcast(mad), Seq("iso_dow", "hour_of_day"))
      .withColumn("is_anomaly", col("adev") > col("mad_n") * 3.0)
      .select(col("day_date"), col("iso_dow"), col("hour_of_day"),
        col("n"), col("med_n"), col("mad_n"), col("is_anomaly"))
      .orderBy(col("day_date"), col("hour_of_day"))
  }

  val q140Sql: String =
    """WITH hourly AS (
      |  SELECT CAST(ts AS DATE) AS day_date,
      |    CAST(isodow(ts) AS INT) AS iso_dow,
      |    CAST(hour(ts) AS INT) AS hour_of_day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2, 3
      |), med AS (
      |  SELECT iso_dow, hour_of_day, quantile_cont(n, 0.5) AS med_n
      |  FROM hourly GROUP BY 1, 2
      |), dev AS (
      |  SELECT hourly.*, med_n, abs(n - med_n) AS adev
      |  FROM hourly JOIN med USING (iso_dow, hour_of_day)
      |), mad AS (
      |  SELECT iso_dow, hour_of_day, quantile_cont(adev, 0.5) AS mad_n
      |  FROM dev GROUP BY 1, 2
      |)
      |SELECT day_date, iso_dow, hour_of_day, n, med_n, mad_n,
      |  adev > mad_n * 3.0 AS is_anomaly
      |FROM dev JOIN mad USING (iso_dow, hour_of_day)
      |ORDER BY day_date, hour_of_day""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q137_bucketed_join", q137_bucketed_join _, q137Sql),
    Query("q138_stratified_split", q138_stratified_split _, q138Sql),
    Query("q139_event_trigrams", q139_event_trigrams _, q139Sql),
    Query("q140_seasonal_anomaly", q140_seasonal_anomaly _, q140Sql)
  )
}
