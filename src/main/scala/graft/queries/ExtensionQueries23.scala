package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.PrefixScan

/** Round-9 batch 11: distribution drift and dedup observability.
  *
  *  - q165: embedding centroid drift per label between corpus halves —
  *    exact integer via power-of-two quantization.
  *  - q166: near-dup cluster size histogram — what the q42 dedup
  *    actually did to the corpus, as a distribution.
  *  - q167: exact Kolmogorov–Smirnov drift between order-value halves —
  *    the distribution-shift alarm, via two-phase prefix sums.
  */
object ExtensionQueries23 extends QueryGroup {

  // --------------------------------------------------------------- q165

  /** q165: per-label embedding centroid drift between the two vec_id
    * parity halves — "did the embedding distribution move between
    * snapshots?" Each component quantizes by the EXACT map
    * `floor(x · 2²⁰)` (float→double is exact and multiplying by a power
    * of two is exact in IEEE arithmetic, so the quantization has NO
    * rounding ambiguity across engines); the drift is the L1 distance
    * between per-half mean vectors in integer micro-units:
    * `Σ_dim |sa·10⁶ div na − sb·10⁶ div nb|`.
    *
    * Scale shape: one posexplode pass → a (label, dim)-keyed map-side-
    * combined sum aggregate (the heavy pass — rows × dims, all long
    * arithmetic); per-label half counts ride as a broadcast from the
    * UN-exploded table; the final fold is label-keyed. Labels with an
    * empty half drop (both engines) rather than divide by zero.
    */
  def q165_embedding_drift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("label"), (col("vec_id") % 2).as("half"), col("embedding"))
    val counts = e.groupBy(col("label"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("nb"))
      .filter(col("na") > 0 && col("nb") > 0)
    val perDim = e
      .select(col("label"), col("half"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("qi", floor(col("v").cast("double") * 1048576d).cast("long"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(when(col("half") === 0, col("qi")).otherwise(0L)).as("sa"),
        sum(when(col("half") === 1, col("qi")).otherwise(0L)).as("sb"))
    perDim.join(broadcast(counts), "label")
      .withColumn("term",
        abs(expr("sa * 1000000 div na - sb * 1000000 div nb")))
      .groupBy(col("label"), col("na"), col("nb"))
      .agg(sum(col("term")).as("l1_drift_micro"))
      .orderBy(col("label"))
  }

  val q165Sql: String =
    """WITH e AS (
      |  SELECT label, vec_id % 2 AS half, embedding FROM embeddings
      |), counts AS (
      |  SELECT label,
      |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM e GROUP BY label
      |  HAVING na > 0 AND nb > 0
      |), q AS (
      |  SELECT label, half,
      |    unnest(range(1, len(embedding) + 1)) AS dim,
      |    unnest(list_transform(embedding,
      |      qv -> CAST(floor(CAST(qv AS DOUBLE) * 1048576) AS BIGINT))) AS qi
      |  FROM e
      |), perdim AS (
      |  SELECT label, dim,
      |    CAST(sum(CASE WHEN half = 0 THEN qi ELSE 0 END) AS BIGINT) AS sa,
      |    CAST(sum(CASE WHEN half = 1 THEN qi ELSE 0 END) AS BIGINT) AS sb
      |  FROM q GROUP BY label, dim
      |)
      |SELECT p.label, na, nb,
      |  CAST(sum(abs(sa * 1000000 // na - sb * 1000000 // nb)) AS BIGINT)
      |    AS l1_drift_micro
      |FROM perdim p JOIN counts c ON p.label = c.label
      |GROUP BY p.label, na, nb
      |ORDER BY p.label""".stripMargin

  // --------------------------------------------------------------- q166

  /** q166: near-dup cluster size histogram over the q42 corpus (docs +
    * two trimmed variants) — the dedup observability report: how many
    * clusters of each size did the Jaccard ≥ 0.3 graph produce, and how
    * many documents stand alone? Survivor count = Σ n_clusters (one
    * representative kept per cluster) falls straight out.
    *
    * Scale shape: q42's machinery unchanged (inverted shingle index →
    * pairs → min-label connected components, never all-pairs); the
    * histogram is two tiny keyed aggregates on top; singletons come from
    * an id-keyed anti-join, not a scan of the cluster table per doc.
    */
  def q166_cluster_histogram(s: SparkSession, dir: String): DataFrame = {
    val all = ExtensionQueries2.q42Corpus(s, dir)
    // the staged cluster frame replaces the inline pairs→CC re-derivation
    // (and the CacheScope double-consumer persist — the checkpoint already
    // holds the ≤90 materialized rows for both branches below)
    val lbl = ExtensionQueries2.q42ClustersStaged(s, dir)
      .select(col("id"), col("rep"))
    val clustered = lbl.groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    val singles = all.select(col("doc_id").as("id"))
      .join(lbl, Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), col("n_clusters"))
    clustered.union(singles)
      .groupBy(col("cluster_size"))
      .agg(sum(col("n_clusters")).as("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  val q166Sql: String =
    s"""${ExtensionQueries2.q42ClusterCtes},
       |cs AS (
       |  SELECT rep, count(*) AS cluster_size FROM lbl GROUP BY rep
       |), h AS (
       |  SELECT cluster_size, count(*) AS n FROM cs GROUP BY cluster_size
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT), count(*) FROM allv
       |  WHERE doc_id NOT IN (SELECT id FROM lbl)
       |)
       |SELECT cluster_size, CAST(sum(n) AS BIGINT) AS n_clusters
       |FROM h GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin

  // --------------------------------------------------------------- q167

  /** q167: exact two-sample Kolmogorov–Smirnov statistic between the
    * order-value distributions of the odd/even order-key halves — the
    * distribution-shift alarm, with NO approximation: the KS supremum is
    * evaluated at every observed value as
    * `max |Fₐ(v) − F_b(v)|` in integer ppm, plus the value where the
    * maximum is first attained.
    *
    * Scale shape: value-keyed count aggregate (distinct prices, bounded
    * far below row count), then the global cumulative counts come from
    * [[graft.ops.PrefixScan.prefixSumsInclusive]] — BOTH halves' running
    * sums in one two-phase scan (one checkpoint, one bounded collect) —
    * never the single-reducer global window the oracle spells; the
    * argmax is a struct-max fold with the 1-row totals broadcast.
    */
  def q167_ks_drift(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select((col("o_orderkey") % 2).as("half"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val counts = o.groupBy(col("cents"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("cb"))
    val cum = PrefixScan.prefixSumsInclusive(counts, 32, Seq(col("cents")),
      Seq((col("ca"), "cuma"), (col("cb"), "cumb")))
    val totals = o.agg(
      sum(when(col("half") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("half") === 1, 1L).otherwise(0L)).as("nb"))
    cum.crossJoin(broadcast(totals))
      .select(col("na"), col("nb"), col("cents"),
        abs(expr("cuma * 1000000 div na - cumb * 1000000 div nb")).as("term"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(struct(col("term"), (-col("cents")).as("negc"))).as("m"))
      .select(col("n_a").as("na"), col("n_b").as("nb"),
        col("m.term").as("ks_ppm"), (-col("m.negc")).as("at_cents"))
  }

  val q167Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey % 2 AS half,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), c AS (
      |  SELECT cents,
      |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM o GROUP BY cents
      |), cum AS (
      |  SELECT cents,
      |    CAST(sum(ca) OVER (ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
      |    CAST(sum(cb) OVER (ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
      |  FROM c
      |), t AS (
      |  SELECT
      |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM o
      |), terms AS (
      |  SELECT cents,
      |    abs(cuma * 1000000 // na - cumb * 1000000 // nb) AS term
      |  FROM cum, t
      |)
      |SELECT na, nb,
      |  (SELECT max(term) FROM terms) AS ks_ppm,
      |  (SELECT min(cents) FROM terms
      |     WHERE term = (SELECT max(term) FROM terms)) AS at_cents
      |FROM t""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q165_embedding_drift", q165_embedding_drift _, q165Sql),
    Query("q166_cluster_histogram", q166_cluster_histogram _, q166Sql),
    Query("q167_ks_drift", q167_ks_drift _, q167Sql)
  )
}
