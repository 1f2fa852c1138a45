package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{ModelStore, Multimodal, PqIndex}
import QueryBlocks.subDistSql

/** More multimodal and model-lifecycle depth, beside q488–q491.
  *
  *  - q492 PQ rebuild quality: generation-1 codebooks (trained on the
  *    even-id half) vs generation-2 (full corpus, q93's model), both
  *    persisted through [[ModelStore]] and re-loaded; per subspace, the
  *    count of vectors whose assigned-code quantization error strictly
  *    improved / tied / worsened under the rebuild — the accept/reject
  *    evidence for swapping a PQ index generation, in exact integer
  *    counts (double DISTANCES are compared, never summed, so the
  *    cross-engine contract is the bit-equality of each (x−c)² fold,
  *    already certified by q93).
  *  - q493 media token budget: the corpus-level rollup a training-cost
  *    projection consumes — per media kind: image token budget from
  *    q419's patch-grid level choice, audio/video frame budget from
  *    q67's sampler geometry (30 s stride, 8-frame cap). One decode
  *    pass, category-constant explosions, a 3-row rollup.
  *
  * Scale shapes: q492 is one scan crossed with the 2·m·ksub-row codebook
  * frame (broadcast), a min per (vector, subspace) and a ≤ m-row
  * aggregate; q493 is the q419/q67 shapes feeding
  * a 3-group rollup.
  */
object ExtensionQueries133 extends QueryGroup {

  // -------------------------------------------------------------- q492

  private val trainedG1Pq =
    new java.util.concurrent.ConcurrentHashMap[String, PqIndex.Model]()
  private val loadedPqGens =
    new java.util.concurrent.ConcurrentHashMap[String, (PqIndex.Model, PqIndex.Model)]()

  private[queries] def g1Pq(s: SparkSession, dir: String): PqIndex.Model =
    trainedG1Pq.computeIfAbsent(dir, d =>
      PqIndex.train(Tables.embeddings(s, d).filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", m = 16))

  private def pqGens(s: SparkSession, dir: String): (PqIndex.Model, PqIndex.Model) =
    loadedPqGens.computeIfAbsent(dir, d => (
      ModelStore.roundTrip(s, ModelStore.savePq, ModelStore.loadPq)(g1Pq(s, d)),
      ModelStore.roundTrip(s, ModelStore.savePq, ModelStore.loadPq)(
        ExtensionQueries6.pqModel(s, d))))

  /** q492: per subspace, did the generation-2 rebuild quantize better?
    * n_better/n_tie/n_worse count vectors by strict comparison of the
    * assigned-code (x−c)² under each loaded generation.
    */
  def q492_pq_rebuild_quality(s: SparkSession, dir: String): DataFrame = {
    val (v1, v2) = pqGens(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), graft.ext.Similarity.toDouble(col("embedding")).as("v"))
    // one row per (generation, subspace, codeword), with the subspace's
    // slice of the vector; per (vector, subspace) the min of the same
    // in-order (x−c)² folds, as the mirror computes it
    val books = s.createDataFrame(for {
      (g, m) <- Seq(1 -> v1, 2 -> v2); mi <- 0 until m.m; ki <- 0 until m.ksub
    } yield (g, mi, mi * m.subDim + 1, m.subDim, m.codebooks(mi)(ki)))
      .toDF("gen", "subspace", "start", "len", "c")
    val d = graft.functions.VectorOps.l2sq(slice(col("v"), col("start"), col("len")), col("c"))
    e.crossJoin(broadcast(books))
      .groupBy(col("vec_id"), col("subspace"))
      .agg(min(when(col("gen") === 1, d)).as("d1"), min(when(col("gen") === 2, d)).as("d2"))
      .groupBy(col("subspace"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("d2") < col("d1"), 1L).otherwise(0L)).as("n_better"),
        sum(when(col("d2") === col("d1"), 1L).otherwise(0L)).as("n_tie"),
        sum(when(col("d2") > col("d1"), 1L).otherwise(0L)).as("n_worse"))
      .orderBy(col("subspace"))
  }

  /** Mirror: both generations' TRAINED codebooks as literals; per
    * (vector, subspace) the min of the same in-order (x−c)² folds, then
    * the comparison counts. Distances are compared, never summed across
    * rows, so no cross-engine accumulation-order hazard exists.
    */
  def q492SqlFor(g1: PqIndex.Model, g2: PqIndex.Model): String = {
    def books(m: PqIndex.Model): String =
      (for { mi <- 0 until m.m; ki <- 0 until m.ksub } yield
        s"($mi, $ki, " + m.codebooks(mi)(ki).map(ExtensionQueries6.dLit)
          .mkString("CAST([", ", ", "] AS DOUBLE[]))"))
        .mkString(",\n  ")
    val sd = g1.subDim
    s"""WITH b1(mi, ki, bv) AS (VALUES
       |  ${books(g1)}),
       |b2(mi, ki, bv) AS (VALUES
       |  ${books(g2)}),
       |c AS (SELECT vec_id, list_transform(range(1, len(embedding)+1),
       |  cv_i -> CAST(embedding[cv_i] AS DOUBLE)) AS cvec FROM embeddings),
       |d1 AS (SELECT vec_id, b.mi, min(${subDistSql("cvec", "b.mi", sd)}) AS d1
       |  FROM c CROSS JOIN b1 b GROUP BY vec_id, b.mi),
       |d2 AS (SELECT vec_id, b.mi, min(${subDistSql("cvec", "b.mi", sd)}) AS d2
       |  FROM c CROSS JOIN b2 b GROUP BY vec_id, b.mi)
       |SELECT mi AS subspace, count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN d2 < d1 THEN 1 ELSE 0 END) AS BIGINT) AS n_better,
       |  CAST(sum(CASE WHEN d2 = d1 THEN 1 ELSE 0 END) AS BIGINT) AS n_tie,
       |  CAST(sum(CASE WHEN d2 > d1 THEN 1 ELSE 0 END) AS BIGINT) AS n_worse
       |FROM d1 JOIN d2 USING (vec_id, mi)
       |GROUP BY mi ORDER BY subspace""".stripMargin
  }

  // -------------------------------------------------------------- q493

  /** q493: per-kind media unit budget — images cost their q419
    * patch-grid tokens at the chosen pyramid level; audio/video cost
    * their q67-geometry sampled frames (30 s stride, ≤ 8). The rollup
    * a data-loading cost model starts from.
    */
  def q493_media_token_budget(s: SparkSession, dir: String): DataFrame = {
    val img = ExtensionQueries111.q419_patch_grid(s, dir)
      .select(lit("image").as("kind"), col("tokens").as("units"))
    val av = Multimodal.sampleFrames(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
          .filter(col("kind") =!= "image"),
        everyMs = 30000L, maxFrames = 8)
      .toDF()
      .groupBy(col("media_id")).agg(count(lit(1)).as("units"))
      .select(when(pmod(col("media_id"), lit(3)) === 1, "audio")
        .otherwise("video").as("kind"), col("units"))
    img.unionByName(av)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"), sum(col("units")).as("total_units"))
      .select(col("kind"), col("n_media"), col("total_units"),
        expr("total_units * 1000 div n_media").as("units_per_media_milli"))
      .orderBy(col("kind"))
  }

  val q493Sql: String = {
    val ph = QueryBlocks.phSql("text")
    s"""WITH t AS (
       |  SELECT doc_id AS media_id, doc_id % 3 AS k3, $ph AS hsh
       |  FROM documents
       |), f AS (
       |  SELECT media_id,
       |    CAST(hsh % 640 + 1 AS BIGINT) AS w,
       |    CAST((hsh // 640) % 480 + 1 AS BIGINT) AS h
       |  FROM t WHERE k3 = 0
       |), lvls AS (
       |  SELECT media_id, w, h, lvl,
       |    (w + (CAST(1 AS BIGINT) << CAST(lvl AS INT)) - 1) // (CAST(1 AS BIGINT) << CAST(lvl AS INT)) AS wl,
       |    (h + (CAST(1 AS BIGINT) << CAST(lvl AS INT)) - 1) // (CAST(1 AS BIGINT) << CAST(lvl AS INT)) AS hl
       |  FROM f CROSS JOIN (SELECT unnest(range(0, 7)) AS lvl)
       |), tok AS (
       |  SELECT media_id, lvl, ((wl + 15) // 16) * ((hl + 15) // 16) AS tokens
       |  FROM lvls
       |), pick AS (
       |  SELECT media_id, min(lvl) AS level
       |  FROM tok WHERE tokens <= 256 GROUP BY media_id
       |), img AS (
       |  SELECT 'image' AS kind, k.tokens AS units
       |  FROM pick p JOIN tok k ON k.media_id = p.media_id AND k.lvl = p.level
       |), av AS (
       |  SELECT CASE WHEN k3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       |    least((hsh % 300000) // 30000 + 1, 8) AS units
       |  FROM t WHERE k3 <> 0
       |), u AS (SELECT kind, units FROM img UNION ALL SELECT kind, units FROM av)
       |SELECT kind, count(*) AS n_media,
       |  CAST(sum(units) AS BIGINT) AS total_units,
       |  CAST(sum(units) AS BIGINT) * 1000 // count(*) AS units_per_media_milli
       |FROM u GROUP BY kind ORDER BY kind""".stripMargin
  }

  // --------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q492_pq_rebuild_quality", q492_pq_rebuild_quality _, Oracle.Model(
      d => for {
        g1 <- Option(trainedG1Pq.get(d))
        g2 <- ExtensionQueries6.trainedPq(d)
      } yield q492SqlFor(g1, g2))),
    Query("q493_media_token_budget", q493_media_token_budget _, q493Sql)
  )
}
