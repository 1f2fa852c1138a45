package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{Bpe, IvfIndex, ModelStore, Multimodal, Similarity}
import QueryBlocks.centroidDistSql

/** End-to-end depth for the multimodal and model-lifecycle tiers.
  *
  *  - q488 image dedup END-TO-END on the binary column: payload →
  *    perceptual aHash → banded LSH candidate join → exact Hamming
  *    verify — the pHash-band analogue of the q29 MinHash stack, with
  *    the q26-style hot-bucket cap so a low-entropy band key can never
  *    go quadratic.
  *  - q489 the band-index health audit for the same index: per band,
  *    key entropy / max bucket / pair mass / capped pair mass — the
  *    Σc² evidence a 100 TB operator reads BEFORE running q488.
  *  - q490 tokenizer-version drift across ModelStore generations: BPE
  *    v1 trained on half the corpus, v2 on all of it, BOTH persisted
  *    and re-loaded; per-document token counts under each generation
  *    plus the drift per-mille — the audit that decides whether a
  *    tokenizer rebuild invalidates cached token budgets.
  *  - q491 ANN index rebuild churn: IVF generation 1 (half corpus) vs
  *    generation 2 (full), both through the store; the assignment
  *    contingency matrix (which gen-1 list feeds which gen-2 list) —
  *    the reassignment evidence for an index-rebuild migration.
  *
  * Scale shapes: q488/q489 shuffle only on (band_idx, band_key) with
  * bounded buckets (cap = [[HotBandCap]]); q490 is one codegen'd scan
  * per generation (merge tables ride the plan as literals); q491 is one
  * scan + a ≤ nlist² aggregate. Mirrors embed the TRAINED models'
  * literals while the engine runs the LOADED ones — any bit the store
  * drops reds the row (the q285–q287 gate, now two generations deep).
  */
object ExtensionQueries132 extends QueryGroup {

  // -------------------------------------------------------------- q488

  /** Pigeonhole recall bound for 4 bands of 16 bits: two 64-bit hashes
    * within Hamming distance 3 agree on ≥ 1 band. */
  private[graft] val HamMax = 3

  /** Hot-band cap (the q26 hot-shingle discipline): a band key carried
    * by more buckets than this is excluded from candidate GENERATION —
    * its members can still pair through their other three bands. A
    * 16-bit aHash band over natural images is low-entropy (measured:
    * one sf0.1 bucket holds 115 of 1627 images = 6.5k pairs from one
    * key), and at corpus scale an uncapped hot key is the quadratic
    * term; the cap bounds any key's pair contribution at cap²/2 while
    * the d ≤ 3 guarantee degrades only for pairs ALL FOUR of whose
    * bands are hot — q489 measures exactly how much mass the cap
    * removes. */
  private[graft] val HotBandCap = 64

  /** Per-image aHash band columns (b0..b3, 16 bits each), images only —
    * [[Multimodal.aHashBands]] over the binary payload, media with
    * payloads under one 8×8 pixel block dropped by that operator. */
  private def imageBands(s: SparkSession, dir: String): DataFrame =
    Multimodal.aHashBands(
        Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
          .filter(col("kind") === "image"))
      .toDF()
      .select(col("media_id"),
        col("bands")(0).as("b0"), col("bands")(1).as("b1"),
        col("bands")(2).as("b2"), col("bands")(3).as("b3"))

  /** Exploded (media_id, band_idx, band_key) index rows. */
  private def bandIndex(bands: DataFrame): DataFrame =
    bands.select(col("media_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band_idx", "band_key")))

  /** q488: image near-duplicate pairs via the banded aHash index —
    * candidates from the (band_idx, band_key) equi-join (hot keys
    * capped), then the exact 64-bit Hamming distance verifies ≤
    * [[HamMax]]. Never all-pairs: work is bounded by Σ capped-bucket²
    * per band (q489 reports the bound's terms). Output: verified pairs.
    */
  def q488_ahash_band_dedup(s: SparkSession, dir: String): DataFrame =
    dupPairs(s, dir).orderBy(col("media_a"), col("media_b"))

  /** The verified near-dup pair frame (media_a < media_b, hamming ≤
    * [[HamMax]]), unordered — shared with q494/q495's cluster graph.
    * `bands` feeds the plan THREE times (the exploded index plus both
    * verification sides) over a mapPartitions aHash-decode leaf — the
    * scoped cache makes the decode provably run once per action
    * (the q140 pattern). */
  private[queries] def dupPairs(s: SparkSession, dir: String): DataFrame = {
    val bands = graft.core.CacheScope.scoped(imageBands(s, dir))
    val e = bandIndex(bands)
    val freq = e.groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("c"))
    val eu = e.join(freq.filter(col("c") <= HotBandCap),
        Seq("band_idx", "band_key"))
      .select(col("media_id"), col("band_idx"), col("band_key"))
    val cand = eu.as("x").join(eu.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"))
      .distinct()
    def ham(a: String, b: String): Column =
      bit_count(col(a).bitwiseXOR(col(b)))
    cand
      .join(bands.as("fa"), col("media_a") === col("fa.media_id"))
      .join(bands.as("fb"), col("media_b") === col("fb.media_id"))
      .select(col("media_a"), col("media_b"),
        (ham("fa.b0", "fb.b0") + ham("fa.b1", "fb.b1") +
          ham("fa.b2", "fb.b2") + ham("fa.b3", "fb.b3")).as("hamming"))
      .filter(col("hamming") <= HamMax)
  }

  /** Shared oracle text: the stub decode → 64-pixel aHash → band keys,
    * as a `bt(media_id, b0..b3)` CTE body (ASCII corpus: chars ≡ payload
    * bytes, the q32-established equivalence). */
  private val btSql: String =
    """SELECT media_id, bk[1] AS b0, bk[2] AS b1, bk[3] AS b2, bk[4] AS b3
      |FROM (
      |  SELECT media_id,
      |    list_transform(range(0, 4), b_i ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(1, 17), j_i ->
      |          CASE WHEN px[b_i*16 + j_i] * 64 > tot THEN 1 ELSE 0 END)),
      |        (k_a, k_b) -> k_a * 2 + k_b)) AS bk
      |  FROM (
      |    SELECT media_id, px, list_reduce(px, (t_a, t_b) -> t_a + t_b) AS tot
      |    FROM (
      |      SELECT doc_id AS media_id,
      |        list_transform(range(1, 65),
      |          p_i -> CAST(ascii(substring(text, p_i, 1)) AS BIGINT)) AS px
      |      FROM documents WHERE doc_id % 3 = 0 AND length(text) >= 64)))""".stripMargin

  private val eSql: String =
    """SELECT media_id, 0 AS band_idx, b0 AS band_key FROM bt UNION ALL
      |SELECT media_id, 1, b1 FROM bt UNION ALL
      |SELECT media_id, 2, b2 FROM bt UNION ALL
      |SELECT media_id, 3, b3 FROM bt""".stripMargin

  /** The shared CTE chain ending in `dup(media_a, media_b, hamming)` —
    * q488 selects it directly; q494/q495 build the cluster graph on
    * top. */
  private[queries] val pairCtes: String =
    s"""bt AS MATERIALIZED ($btSql),
       |e AS MATERIALIZED ($eSql),
       |ec AS (SELECT band_idx, band_key, count(*) AS c FROM e GROUP BY 1, 2),
       |eu AS (SELECT e.media_id, e.band_idx, e.band_key
       |       FROM e JOIN ec USING (band_idx, band_key) WHERE ec.c <= $HotBandCap),
       |cand AS (
       |  SELECT DISTINCT x.media_id AS media_a, y.media_id AS media_b
       |  FROM eu x JOIN eu y ON x.band_idx = y.band_idx
       |    AND x.band_key = y.band_key AND x.media_id < y.media_id),
       |dup AS MATERIALIZED (
       |  SELECT media_a, media_b,
       |    CAST(bit_count(xor(fa.b0, fb.b0)) + bit_count(xor(fa.b1, fb.b1)) +
       |         bit_count(xor(fa.b2, fb.b2)) + bit_count(xor(fa.b3, fb.b3)) AS INT)
       |      AS hamming
       |  FROM cand
       |  JOIN bt fa ON fa.media_id = media_a
       |  JOIN bt fb ON fb.media_id = media_b
       |  WHERE bit_count(xor(fa.b0, fb.b0)) + bit_count(xor(fa.b1, fb.b1)) +
       |        bit_count(xor(fa.b2, fb.b2)) + bit_count(xor(fa.b3, fb.b3)) <= $HamMax)""".stripMargin

  val q488Sql: String =
    s"""WITH $pairCtes
       |SELECT media_a, media_b, hamming FROM dup
       |ORDER BY media_a, media_b""".stripMargin

  // -------------------------------------------------------------- q489

  /** q489: band-index health audit — per band: distinct keys, largest
    * bucket, TOTAL pair mass Σ c(c−1)/2, hot-key count at the
    * [[HotBandCap]], and the capped pair mass q488 actually pays. The
    * numbers that justify (or veto) the banding geometry at the next
    * scale rung, as a first-class query rather than a PLANS.md table.
    */
  def q489_ahash_band_audit(s: SparkSession, dir: String): DataFrame =
    bandIndex(imageBands(s, dir))
      .groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band_idx"))
      .agg(
        count(lit(1)).as("n_keys"),
        max(col("c")).as("max_bucket"),
        sum(expr("(c * (c - 1)) div 2")).as("pair_mass"),
        sum(when(col("c") > HotBandCap, 1L).otherwise(0L)).as("n_hot_keys"),
        sum(when(col("c") <= HotBandCap, expr("(c * (c - 1)) div 2"))
          .otherwise(0L)).as("pair_mass_capped"))
      .orderBy(col("band_idx"))

  val q489Sql: String =
    s"""WITH bt AS MATERIALIZED ($btSql),
       |e AS ($eSql),
       |ec AS (SELECT band_idx, band_key, count(*) AS c FROM e GROUP BY 1, 2)
       |SELECT band_idx, count(*) AS n_keys, max(c) AS max_bucket,
       |  CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS pair_mass,
       |  CAST(sum(CASE WHEN c > $HotBandCap THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys,
       |  CAST(sum(CASE WHEN c <= $HotBandCap THEN (c * (c - 1)) // 2 ELSE 0 END) AS BIGINT)
       |    AS pair_mass_capped
       |FROM ec GROUP BY band_idx ORDER BY band_idx""".stripMargin

  // -------------------------------------------------------------- q490

  /** Trained generation-1 models (half corpus), memoized per dir; the
    * mirrors embed THESE literals while the queries run the loaded
    * round-tripped copies. */
  private val trainedG1Bpe =
    new java.util.concurrent.ConcurrentHashMap[String, Bpe.Model]()
  private val trainedG1Ivf =
    new java.util.concurrent.ConcurrentHashMap[String, IvfIndex.Model]()
  /** Loaded (post-store) generation pairs, memoized per dir. */
  private val loadedBpeGens =
    new java.util.concurrent.ConcurrentHashMap[String, (Bpe.Model, Bpe.Model)]()
  private val loadedIvfGens =
    new java.util.concurrent.ConcurrentHashMap[String, (IvfIndex.Model, IvfIndex.Model)]()

  private[queries] def g1Bpe(s: SparkSession, dir: String): Bpe.Model =
    trainedG1Bpe.computeIfAbsent(dir, d =>
      Bpe.train(Tables.documents(s, d).filter(col("doc_id") % 2 === 0), "text"))

  private[queries] def g1Ivf(s: SparkSession, dir: String): IvfIndex.Model =
    trainedG1Ivf.computeIfAbsent(dir, d =>
      IvfIndex.train(Tables.embeddings(s, d).filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", nlist = 16))

  private def bpeGens(s: SparkSession, dir: String): (Bpe.Model, Bpe.Model) =
    loadedBpeGens.computeIfAbsent(dir, d => (
      ModelStore.roundTrip(s, ModelStore.saveBpe, ModelStore.loadBpe)(g1Bpe(s, d)),
      ModelStore.roundTrip(s, ModelStore.saveBpe, ModelStore.loadBpe)(
        ExtensionQueries10.bpeModel(s, d))))

  private def ivfGens(s: SparkSession, dir: String): (IvfIndex.Model, IvfIndex.Model) =
    loadedIvfGens.computeIfAbsent(dir, d => (
      ModelStore.roundTrip(s, ModelStore.saveIvf, ModelStore.loadIvf)(g1Ivf(s, d)),
      ModelStore.roundTrip(s, ModelStore.saveIvf, ModelStore.loadIvf)(
        ExtensionQueries2.ivfModel(s, d))))

  /** q490: tokenizer-version drift. v1 = BPE trained on the even-id half
    * of the corpus, v2 = the full-corpus q112 tokenizer; both persisted
    * through [[ModelStore]] and re-loaded. Per document: token counts
    * under each generation and the signed drift per-mille — positive
    * when the rebuild made this document MORE expensive. One scan, two
    * codegen'd token counters, no shuffle beyond the output sort.
    */
  def q490_bpe_generation_drift(s: SparkSession, dir: String): DataFrame = {
    val (v1, v2) = bpeGens(s, dir)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Bpe.tokenCount(col("text"), v1).as("n_bpe_v1"),
        Bpe.tokenCount(col("text"), v2).as("n_bpe_v2"))
      .withColumn("drift_per_mille",
        expr("(n_bpe_v2 - n_bpe_v1) * 1000 div nullif(n_bpe_v1, 0L)"))
      .orderBy(col("doc_id"))
  }

  /** Two-generation mirror: one `WITH RECURSIVE` carrying both encode
    * chains (prefixed CTEs), each replaying the greedy merge loop under
    * its generation's TRAINED merge table. */
  def q490SqlFor(g1: Bpe.Model, g2: Bpe.Model): String =
    s"""WITH RECURSIVE ${ExtensionQueries10.bpeCtes(g1, "g1")},
       |${ExtensionQueries10.bpeCtes(g2, "g2")}
       |SELECT d.doc_id,
       |  coalesce(b1.n_bpe, 0) AS n_bpe_v1,
       |  coalesce(b2.n_bpe, 0) AS n_bpe_v2,
       |  (coalesce(b2.n_bpe, 0) - coalesce(b1.n_bpe, 0)) * 1000
       |    // nullif(coalesce(b1.n_bpe, 0), 0) AS drift_per_mille
       |FROM documents d
       |LEFT JOIN g1_doc b1 USING (doc_id)
       |LEFT JOIN g2_doc b2 USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------- q491

  /** q491: index-rebuild reassignment matrix. Every vector is assigned
    * to its nearest centroid under generation 1 (trained on the even-id
    * half) and generation 2 (full corpus, q38's index), both persisted
    * and re-loaded; the output is the (list_v1, list_v2, n_vecs)
    * contingency — the migration table an operator reads to decide
    * whether a rebuild can reuse cached probe routing (mass on the
    * diagonal-dominant blocks) or must re-shard. One scan, 2·nlist
    * codegen'd distance folds per row, a ≤ nlist² aggregate.
    */
  def q491_ivf_rebuild_churn(s: SparkSession, dir: String): DataFrame = {
    val (v1, v2) = ivfGens(s, dir)
    Tables.embeddings(s, dir)
      .select(Similarity.toDouble(col("embedding")).as("v"))
      .select(
        IvfIndex.listId(v1, col("v")).as("list_v1"),
        IvfIndex.listId(v2, col("v")).as("list_v2"))
      .groupBy(col("list_v1"), col("list_v2"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("list_v1"), col("list_v2"))
  }

  /** Mirror: both generations' TRAINED centroids as DOUBLE[] literals,
    * argmin over the same left-to-right (x−c)² fold, ties by centroid
    * index (the q38-certified equivalence with [[IvfIndex.listId]]). */
  def q491SqlFor(g1: IvfIndex.Model, g2: IvfIndex.Model): String = {
    def cents(m: IvfIndex.Model): String = m.centroids.zipWithIndex
      .map { case (c, i) => s"($i, " +
        c.map(ExtensionQueries6.dLit).mkString("CAST([", ", ", "] AS DOUBLE[]))") }
      .mkString(",\n  ")
    def assign(cent: String, out: String): String =
      s"""SELECT vec_id, ci AS $out FROM (
         |  SELECT vec_id, ci,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ${centroidDistSql("cvec")}, ci) AS rn
         |  FROM c CROSS JOIN $cent) WHERE rn = 1""".stripMargin
    s"""WITH cent1(ci, cv) AS (VALUES
       |  ${cents(g1)}),
       |cent2(ci, cv) AS (VALUES
       |  ${cents(g2)}),
       |c AS (SELECT vec_id, list_transform(range(1, len(embedding)+1),
       |  cv_i -> CAST(embedding[cv_i] AS DOUBLE)) AS cvec FROM embeddings),
       |a1 AS (${assign("cent1", "list_v1")}),
       |a2 AS (${assign("cent2", "list_v2")})
       |SELECT list_v1, list_v2, count(*) AS n_vecs
       |FROM a1 JOIN a2 USING (vec_id)
       |GROUP BY list_v1, list_v2
       |ORDER BY list_v1, list_v2""".stripMargin
  }

  // --------------------------------------------------------- registry

  // q490/q491's mirrors embed BOTH generations' TRAINED literals (never the
  // loaded copies the engine ran), for the dirs with a generation-1 model
  val entries: Seq[Query] = Seq(
    Query("q488_ahash_band_dedup", q488_ahash_band_dedup _, q488Sql),
    Query("q489_ahash_band_audit", q489_ahash_band_audit _, q489Sql),
    Query("q490_bpe_generation_drift", q490_bpe_generation_drift _, Oracle.Model(d => for {
      g1 <- Option(trainedG1Bpe.get(d))
      g2 <- ExtensionQueries10.trainedBpe(d)
    } yield q490SqlFor(g1, g2))),
    Query("q491_ivf_rebuild_churn", q491_ivf_rebuild_churn _, Oracle.Model(d => for {
      g1 <- Option(trainedG1Ivf.get(d))
      g2 <- ExtensionQueries2.trainedIvf(d)
    } yield q491SqlFor(g1, g2)))
  )
}
