package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Multimodal
import graft.core.Tables

/** Round-16 batch 3: the multimodal dedup story's last two stages —
  * from verified pairs (q488) to actionable clusters and a savings
  * projection, the same composition the text tier certifies with
  * q42/q404.
  *
  *  - q494: connected components over the verified aHash near-dup pair
  *    graph ([[graft.ops.StarContract]], q128's operator, on the pair
  *    frame q488 emits) — one row per dup CLUSTER with its size, span,
  *    and worst internal Hamming distance: the keep-list's unit of
  *    work.
  *  - q495: the byte-savings projection of keeping one representative
  *    (min id) per cluster — corpus-level scalars an ingestion planner
  *    reads before committing to the dedup pass: hashed images, dup
  *    members, clusters, payload bytes total/dropped, saved ppm.
  *
  * Scale shapes: the cluster graph is the VERIFIED pair frame (already
  * hot-capped and Hamming-filtered — orders of magnitude below the
  * band index), StarContract runs O(log n) checkpointed rounds on it;
  * q495 is one semi-join + two rollups. Mirrors recompute components
  * with the q128-style exact closure, which is safe HERE because the
  * dup graph (46 edges at sf0.1) is bounded by true near-dup mass, not
  * corpus mass.
  */
object ExtensionQueries134 extends QueryGroup {

  /** Round budget for the pair-graph contraction: dup clusters are
    * near-cliques (mutual near-dups), diameter ≲ 2 — 3 rounds carries
    * the log-headroom; the certificate column still rides the output,
    * so an insufficient budget reds the row rather than lying. */
  private val CcRounds = 3

  /** q494 and q495 audit the SAME contraction, and StarContract's
    * checkpointed-round floor (~4 s at sf0.1, kc ≈ 0 — a fixed-cost
    * regime, not data growth) was paid twice per bench run. Staged via
    * [[graft.core.StagedMemo]] (cluster labels are data-proportional —
    * disk-backed, never collected); Bench lists both consumers under
    * `memoized`. Mirrors re-derive the exact closure independently.
    */
  private def clusters(s: SparkSession, dir: String): DataFrame =
    graft.core.StagedMemo.stage(s, "ahashcc", dir, "documents.parquet") {
      val pairs = ExtensionQueries132.dupPairs(s, dir)
      val nodes = pairs.select(col("media_a").as("id"))
        .unionByName(pairs.select(col("media_b").as("id"))).distinct()
      graft.ops.StarContract.run(
          pairs.select(col("media_a").as("src"), col("media_b").as("dst")),
          nodes, CcRounds)
        .select(col("id"), col("comp"), col("converged"))
    }

  /** Registered names replaying [[clusters]]' staged frame after the
    * first consumer computes (Bench `memoized` convention). */
  val memoizedQueries: Seq[String] = Seq(
    "q494_ahash_dup_clusters", "q495_ahash_dedup_savings")

  // -------------------------------------------------------------- q494

  /** q494: one row per near-dup image cluster — members, id span, worst
    * internal pair distance, and the convergence certificate. */
  def q494_ahash_dup_clusters(s: SparkSession, dir: String): DataFrame = {
    val cl = clusters(s, dir)
    val pairHam = ExtensionQueries132.dupPairs(s, dir)
      .join(cl.select(col("id").as("media_a"), col("comp")), Seq("media_a"))
      .groupBy(col("comp")).agg(max(col("hamming")).as("max_hamming"))
    cl.groupBy(col("comp"), col("converged"))
      .agg(count(lit(1)).as("n_members"),
        min(col("id")).as("min_member"), max(col("id")).as("max_member"))
      .join(pairHam, Seq("comp"))
      .select(col("comp"), col("n_members"), col("min_member"),
        col("max_member"), col("max_hamming"), col("converged"))
      .orderBy(col("comp"))
  }

  /** Exact-closure CTE chain over `dup` → `ccomp(id, comp)`; the dup
    * graph is true-near-dup-bounded, so the closure is cheap where
    * q128's corpus-graph closure was not. */
  private val closureCtes: String =
    """e2 AS (SELECT media_a AS u, media_b AS v FROM dup
      |       UNION ALL SELECT media_b, media_a FROM dup),
      |reach(a, b) AS (
      |  SELECT u, v FROM e2
      |  UNION
      |  SELECT r.a, e.v FROM reach r JOIN e2 e ON e.u = r.b WHERE e.v <> r.a
      |), ccomp AS (
      |  SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a
      |)""".stripMargin

  val q494Sql: String =
    s"""WITH RECURSIVE ${ExtensionQueries132.pairCtes},
       |$closureCtes, ph AS (
       |  SELECT c2.comp, max(d.hamming) AS max_hamming
       |  FROM dup d JOIN ccomp c2 ON c2.id = d.media_a GROUP BY c2.comp
       |)
       |SELECT c.comp, count(*) AS n_members,
       |  min(c.id) AS min_member, max(c.id) AS max_member,
       |  ph.max_hamming, TRUE AS converged
       |FROM ccomp c JOIN ph ON ph.comp = c.comp
       |GROUP BY c.comp, ph.max_hamming ORDER BY c.comp""".stripMargin

  // -------------------------------------------------------------- q495

  /** q495: savings projection — keep min-id per cluster, drop the rest;
    * denominators are the HASHED population (images with a full 8×8
    * pixel block, the q488 universe). */
  def q495_ahash_dedup_savings(s: SparkSession, dir: String): DataFrame = {
    val hashed = Multimodal.aHashBands(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
          .filter(col("kind") === "image"))
      .toDF().select(col("media_id"), col("n_bytes"))
    val cl = clusters(s, dir)
    val dropped = cl.filter(col("id") =!= col("comp"))
      .join(hashed.select(col("media_id").as("id"), col("n_bytes")), Seq("id"))
    val totals = hashed.agg(count(lit(1)).as("n_images"),
      sum(col("n_bytes")).as("bytes_total"))
    val clAgg = cl.agg(countDistinct(col("comp")).as("n_clusters"),
      count(lit(1)).as("n_dup_members"))
    val drops = dropped.agg(
      coalesce(count(lit(1)), lit(0L)).as("n_dropped"),
      coalesce(sum(col("n_bytes")), lit(0L)).as("bytes_dropped"))
    totals.crossJoin(clAgg).crossJoin(drops)
      .select(col("n_images"), col("n_clusters"),
        col("n_dup_members"), col("n_dropped"),
        col("bytes_total"), col("bytes_dropped"),
        expr("bytes_dropped * 1000000 div bytes_total").as("saved_ppm"))
  }

  val q495Sql: String =
    s"""WITH RECURSIVE ${ExtensionQueries132.pairCtes},
       |$closureCtes,
       |hashed AS (
       |  SELECT media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
       |  FROM (SELECT doc_id AS media_id, text FROM documents
       |        WHERE doc_id % 3 = 0 AND length(text) >= 64)
       |), dropped AS (
       |  SELECT h.n_bytes FROM ccomp c JOIN hashed h ON h.media_id = c.id
       |  WHERE c.id <> c.comp
       |)
       |SELECT
       |  (SELECT count(*) FROM hashed) AS n_images,
       |  (SELECT count(DISTINCT comp) FROM ccomp) AS n_clusters,
       |  (SELECT count(*) FROM ccomp) AS n_dup_members,
       |  (SELECT count(*) FROM dropped) AS n_dropped,
       |  (SELECT CAST(sum(n_bytes) AS BIGINT) FROM hashed) AS bytes_total,
       |  (SELECT CAST(coalesce(sum(n_bytes), 0) AS BIGINT) FROM dropped) AS bytes_dropped,
       |  (SELECT CAST(coalesce(sum(n_bytes), 0) AS BIGINT) FROM dropped) * 1000000
       |    // (SELECT CAST(sum(n_bytes) AS BIGINT) FROM hashed) AS saved_ppm""".stripMargin

  // --------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q494_ahash_dup_clusters", q494_ahash_dup_clusters _, q494Sql),
    Query("q495_ahash_dedup_savings", q495_ahash_dedup_savings _, q495Sql)
  )
}
