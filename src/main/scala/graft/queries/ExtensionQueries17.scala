package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 5: recency weighting, corpus-mixture auditing, and
  * contrastive-pair mining.
  *
  *  - q145: time-decayed user value — exponential recency weighting made
  *    EXACT by dyadic-rational arithmetic (integer cents × power-of-two
  *    weights), never a lossy `exp()`.
  *  - q146: source-diversity audit per language (Gini–Simpson index) —
  *    the mixture-health metric a corpus curator tracks, exact in
  *    integer ppm.
  *  - q147: hard-negative mining — per probe, the most-similar
  *    embeddings BELOW the positive band: the contrastive-training pair
  *    builder (SimCLR/DPR shape).
  */
object ExtensionQueries17 extends QueryGroup {

  // --------------------------------------------------------------- q145

  /** Decay horizon in days: weight = 2^(HorizonDays − age). Ages beyond
    * the horizon clamp to weight 1 (the tail is flat, not dropped).
    */
  val HorizonDays = 29

  /** q145: recency-weighted user value — every scoring pipeline wants
    * "recent activity counts more", usually via `sum(v · e^(−λ·age))`,
    * which is FP-order-dependent and engine-divergent. With half-life =
    * 1 day the weight is a POWER OF TWO: `cents · 2^(29−age_days)` is an
    * exact 64-bit integer, the sum is order-independent, and the result
    * is bit-identical in any engine. (At petabyte row counts the scaled
    * sum upgrades to DECIMAL(38) — same pattern as the money sums.)
    * The anchor (latest event day) is a 1-row broadcast.
    *
    * Scale shape: one events pass, one user-keyed map-side-combined
    * aggregate; weights are a codegen shiftleft, no join beyond the
    * 1-row anchor broadcast.
    */
  def q145_decayed_value(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val anchor = e.agg(max(col("day")).as("anchor_day"))
    e.crossJoin(broadcast(anchor)) // 1-row scalar fan-out
      .withColumn("age", least(col("anchor_day") - col("day"), lit(HorizonDays)))
      .withColumn("w",
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST($HorizonDays - age AS INT))"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("raw_cents"),
        sum(col("cents") * col("w")).as("decayed_scaled"))
      .orderBy(col("user_id"))
  }

  val q145Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events
       |), anchor AS (SELECT max(day) AS anchor_day FROM e)
       |SELECT user_id, count(*) AS n_events,
       |  CAST(sum(cents) AS BIGINT) AS raw_cents,
       |  CAST(sum(cents * (CAST(1 AS BIGINT) << CAST($HorizonDays
       |    - least(anchor_day - day, $HorizonDays) AS INT))) AS BIGINT)
       |    AS decayed_scaled
       |FROM e CROSS JOIN anchor
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q146

  /** q146: per-language source-diversity audit — the Gini–Simpson index
    * (1 − Σ pᵢ², the probability two random docs come from different
    * sources) per language stratum, plus the dominant source and its
    * share. Shannon entropy needs log() (FP, engine-divergent);
    * Gini–Simpson is RATIONAL: `(tot² − Σc²)·10⁶ div tot²` is exact
    * integer ppm. The curator's question — "is this slice one scrape in
    * a trench coat?" — answered exactly.
    *
    * Scale shape: one (lang, source) count pass (map-side combined),
    * then a |langs × sources|-row aggregate; the dominant source is a
    * conditional struct max in the same small aggregate.
    */
  def q146_source_diversity(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("lang"))
      .agg(
        sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(col("c") * col("c")).as("sum_sq"),
        max(struct(col("c"), col("source"))).as("top"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        expr("(n_docs * n_docs - sum_sq) * 1000000 div (n_docs * n_docs)")
          .as("gini_simpson_ppm"),
        col("top.source").as("dominant_source"),
        expr("top.c * 1000000 div n_docs").as("dominant_share_ppm"))
      .orderBy(col("lang"))
  }

  val q146Sql: String =
    """WITH counts AS (
      |  SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source
      |), agg AS (
      |  SELECT lang,
      |    CAST(sum(c) AS BIGINT) AS n_docs,
      |    count(*) AS n_sources,
      |    CAST(sum(c * c) AS BIGINT) AS sum_sq,
      |    CAST(max(c) AS BIGINT) AS top_c
      |  FROM counts GROUP BY lang
      |), top AS (
      |  SELECT lang, max(source) AS dominant_source, max(c) AS top_c FROM (
      |    SELECT lang, source, c,
      |      row_number() OVER (PARTITION BY lang ORDER BY c DESC, source DESC) AS rn
      |    FROM counts
      |  ) WHERE rn = 1 GROUP BY lang
      |)
      |SELECT agg.lang, n_docs, n_sources,
      |  (n_docs * n_docs - sum_sq) * 1000000 // (n_docs * n_docs)
      |    AS gini_simpson_ppm,
      |  dominant_source,
      |  agg.top_c * 1000000 // n_docs AS dominant_share_ppm
      |FROM agg JOIN top ON agg.lang = top.lang
      |ORDER BY agg.lang""".stripMargin

  // --------------------------------------------------------------- q147

  /** Positive band: candidates at or above this cosine are near-dups /
    * positives, excluded from the negative pool.
    */
  val PositiveBand = 0.8

  /** q147: hard-negative mining for contrastive training (the DPR /
    * SimCLR pair-builder): per probe, the top-5 MOST similar embeddings
    * strictly below the positive band — similar enough to be hard,
    * dissimilar enough to be true negatives. Random negatives are easy
    * and teach nothing; the hard band is where the gradient is.
    *
    * Scale shape: q30's brute shape (norms precomputed per row, never
    * per pair; bounded probe set; per-probe window over the probe
    * partition) with the band filter BEFORE ranking; the IVF/PQ indexes
    * (q38/q93) are the sub-brute path when the probe set is the whole
    * corpus. Cosines are the repo's pinned in-order fold — bit-identical
    * in DuckDB.
    */
  def q147_hard_negatives(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Similarity.{dot, norm, toDouble}
    val e = Tables.embeddings(s, dir)
    val cands = e.select(col("vec_id").as("cand_id"),
        toDouble(col("embedding")).as("cvec"))
      .withColumn("cnorm", norm(col("cvec")))
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), toDouble(col("embedding")).as("pvec"))
      .withColumn("pnorm", norm(col("pvec")))
    // the BOUNDED probe set broadcasts; the corpus streams (left
    // unhinted, Spark builds the right side — i.e. the whole corpus)
    val scored = cands.join(broadcast(probes), col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        (dot(col("pvec"), col("cvec")) / (col("pnorm") * col("cnorm"))).as("cos"))
      .filter(col("cos") < PositiveBand) // negatives only
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank"), col("cand_id"), col("cos"))
      .orderBy(col("probe_id"), col("rank"))
  }

  val q147Sql: String = {
    def fold(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, len($a)+1), hn_i -> CAST($a[hn_i] AS DOUBLE) * CAST($b[hn_i] AS DOUBLE))), " +
        s"(hn_x, hn_y) -> hn_x + hn_y)"
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
       |s AS (
       |  SELECT probe_id, cand_id,
       |    ${fold("pv", "cv")} / (sqrt(${fold("pv", "pv")}) * sqrt(${fold("cv", "cv")})) AS cos
       |  FROM p CROSS JOIN c WHERE probe_id <> cand_id
       |)
       |SELECT probe_id,
       |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS INT) AS rank,
       |  cand_id, cos
       |FROM s WHERE cos < $PositiveBand
       |QUALIFY rank <= 5
       |ORDER BY probe_id, rank""".stripMargin
  }

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q145_decayed_value", q145_decayed_value _, q145Sql),
    Query("q146_source_diversity", q146_source_diversity _, q146Sql),
    Query("q147_hard_negatives", q147_hard_negatives _, q147Sql)
  )
}
