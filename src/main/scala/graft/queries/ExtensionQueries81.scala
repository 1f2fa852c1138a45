package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-12 batch 7: governance exports and data contracts.
  *
  *  - q335 subject-access export (GDPR art. 15): one row per data
  *    subject with their event counts, span, money totals, and an md5
  *    fingerprint of the FULLY ORDERED event history — the deliverable
  *    of an access request, certified without raw history crossing the
  *    comparator (the q312 fingerprint discipline).
  *  - q336 schema/data-contract drift: per column, null rates and
  *    exact NDV for two export generations side by side with the
  *    deltas — the monitoring table a data contract alerts on (q131
  *    watches token drift INSIDE a column; this watches the columns
  *    themselves).
  *  - q337 dedup loss weights: the training-loss reweighting dedup
  *    pipelines apply instead of dropping near-dups (each member of a
  *    duplicate cluster weighted 1/size) — exact ppm weights over the
  *    q42 cluster memo, with the conservation the spec pins.
  *
  * Scale shapes: q335 groups by subject (collect_list bounded by a
  * subject's own history — the export contract); q336 is the q135
  * stack idiom (one scan, conditional aggregates per generation);
  * q337 rides the memoized ≤90-row cluster frame.
  */
object ExtensionQueries81 extends QueryGroup {

  // --------------------------------------------------------------- q335

  /** q335: access-request export for subjects user_id < 20 — counts,
    * time span (µs), exact cents totals, and the history fingerprint
    * md5 over records `event_type|us|cents` joined by '#' in
    * (us, event_id) order.
    *
    * PII scoping (r13 verdict task #6): the export's column footprint
    * is certified from the plan, not by hand —
    * [[graft.plans.Lineage.controlSources]] reports the
    * row-selecting reads (the `user_id` subject filter and the
    * grouping key) alongside the value lineage; LineageSpec pins both
    * for this query.
    */
  def q335_subject_access_export(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("rec",
        concat_ws("|", col("event_type"), col("us"), col("cents")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("first_us"), max(col("us")).as("last_us"),
        sum(col("cents")).as("cents_sum"),
        md5(expr("array_join(transform(" +
          "sort_array(collect_list(struct(us, event_id, rec))), " +
          "r -> r.rec), '#')")).as("history_md5"))
      .orderBy(col("user_id"))

  val q335Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE user_id < 20
      |), r AS (
      |  SELECT user_id, event_id, us,
      |    event_type || '|' || CAST(us AS VARCHAR) || '|' ||
      |      CAST(cents AS VARCHAR) AS rec,
      |    cents
      |  FROM e
      |)
      |SELECT user_id, count(*) AS n_events,
      |  min(us) AS first_us, max(us) AS last_us,
      |  CAST(sum(cents) AS BIGINT) AS cents_sum,
      |  md5(string_agg(rec, '#' ORDER BY us, event_id)) AS history_md5
      |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q336

  /** q336: contract drift between export generations (doc_id parity
    * halves) — per column: row counts, null ppm, exact NDV per
    * generation, and the NDV delta per-mille (B vs A).
    */
  def q336_schema_drift(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq(
      "lang" -> "lang",
      "source" -> "source",
      "n_chars" -> "lpad(CAST(n_chars AS STRING), 20, '0')")
    val stackArgs = cols.map { case (n, e) => s"'$n', $e" }.mkString(", ")
    Tables.documents(s, dir)
      .selectExpr("doc_id % 2 AS gen",
        s"stack(${cols.size}, $stackArgs) AS (col_name, v)")
      .groupBy(col("col_name"))
      .agg(
        sum(when(col("gen") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("gen") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("gen") === 0 && col("v").isNull, 1L).otherwise(0L)).as("null_a"),
        sum(when(col("gen") === 1 && col("v").isNull, 1L).otherwise(0L)).as("null_b"),
        countDistinct(when(col("gen") === 0, col("v"))).as("ndv_a"),
        countDistinct(when(col("gen") === 1, col("v"))).as("ndv_b"))
      .select(col("col_name"),
        col("n_a"), col("n_b"),
        expr("null_a * 1000000L div n_a").as("null_ppm_a"),
        expr("null_b * 1000000L div n_b").as("null_ppm_b"),
        col("ndv_a"), col("ndv_b"),
        expr("ndv_b * 1000 div ndv_a").as("ndv_b_per_mille"))
      .orderBy(col("col_name"))
  }

  val q336Sql: String =
    """WITH stacked AS (
      |  SELECT doc_id % 2 AS gen, 'lang' AS col_name, lang AS v FROM documents
      |  UNION ALL
      |  SELECT doc_id % 2, 'source', source FROM documents
      |  UNION ALL
      |  SELECT doc_id % 2, 'n_chars', lpad(CAST(n_chars AS VARCHAR), 20, '0')
      |  FROM documents
      |)
      |SELECT col_name,
      |  CAST(sum(CASE WHEN gen = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN gen = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |  CAST(sum(CASE WHEN gen = 0 AND v IS NULL THEN 1 ELSE 0 END) * 1000000
      |    // sum(CASE WHEN gen = 0 THEN 1 ELSE 0 END) AS BIGINT) AS null_ppm_a,
      |  CAST(sum(CASE WHEN gen = 1 AND v IS NULL THEN 1 ELSE 0 END) * 1000000
      |    // sum(CASE WHEN gen = 1 THEN 1 ELSE 0 END) AS BIGINT) AS null_ppm_b,
      |  count(DISTINCT CASE WHEN gen = 0 THEN v END) AS ndv_a,
      |  count(DISTINCT CASE WHEN gen = 1 THEN v END) AS ndv_b,
      |  CAST(count(DISTINCT CASE WHEN gen = 1 THEN v END) * 1000
      |    // count(DISTINCT CASE WHEN gen = 0 THEN v END) AS BIGINT)
      |    AS ndv_b_per_mille
      |FROM stacked GROUP BY col_name ORDER BY col_name""".stripMargin

  // --------------------------------------------------------------- q337

  /** q337: per-cluster-size loss-weight table over the q42 near-dup
    * clusters — member weight 1/size in exact ppm (truncating), the
    * cluster mass each size contributes, and the doc counts. Dedup
    * by dropping keeps one member; weighting keeps them all at
    * conserved total influence — this is that plan, exactly.
    */
  def q337_dedup_loss_weights(s: SparkSession, dir: String): DataFrame =
    ExtensionQueries2.q42ClustersStaged(s, dir)
      .groupBy(col("rep")).agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("size")).as("n_docs"))
      .select(col("size"), col("n_clusters"), col("n_docs"),
        expr("1000000L div size").as("member_weight_ppm"),
        expr("n_docs * (1000000L div size)").as("mass_ppm"))
      .orderBy(col("size"))

  val q337Sql: String =
    s"""${ExtensionQueries2.q42ClusterCtes},
       |cl AS (SELECT rep, count(*) AS size FROM lbl GROUP BY rep)
       |SELECT size, count(*) AS n_clusters,
       |  CAST(sum(size) AS BIGINT) AS n_docs,
       |  CAST(1000000 // size AS BIGINT) AS member_weight_ppm,
       |  CAST(sum(size) * (1000000 // size) AS BIGINT) AS mass_ppm
       |FROM cl GROUP BY size ORDER BY size""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q335_subject_access_export", q335_subject_access_export _, q335Sql),
    Query("q336_schema_drift", q336_schema_drift _, q336Sql),
    Query("q337_dedup_loss_weights", q337_dedup_loss_weights _, q337Sql)
  )
}
