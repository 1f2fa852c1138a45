package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Dedup, PcaProject, Similarity, TextAnalysis}
import QueryBlocks.{l2Sql, NsPerMin}

/** The incremental-index tier of the dedup family (q99's near-dup
  * admission against a stored signature index), PCA projection and its
  * ANN recall certificate (q100, q101), and the interval-overlap join
  * (q102).
  */
object ExtensionQueries7 extends QueryGroup {

  // ---------------------------------------------------------------- q99

  /** q99: incremental MinHash near-dup admission
    * ([[graft.ext.Dedup.incrementalMinhash]]) — "does tonight's crawl
    * batch near-duplicate anything we already hold?" answered from the
    * STORED signature index, never rescanning corpus text (the LSH
    * counterpart of q72's exact incremental dedup). Fixture: corpus =
    * docs 0-149; delta = fresh docs 150-249 plus doctored near-copies
    * (last 5 tokens dropped, the q29 construction) of both corpus docs
    * (ids +100000 → must drop against the INDEX) and the fresh delta
    * docs (ids +200000 → must drop against the EARLIER-ID delta rows).
    * Oracle: the full q29-style generated mirror — polyhash shingles,
    * 64-component affine signatures, 16-band folds, the src/id-order
    * admission rule, and the min-partner pick replay bit-exactly in
    * DuckDB.
    */
  def q99_incremental_minhash(s: SparkSession, dir: String): DataFrame = {
    val (corpusSigs, deltaSigs) = q99Fixture(s, dir)
    Dedup.incrementalMinhash(corpusSigs, deltaSigs, "doc_id",
        bands = 16, minEstJ = 0.4)
      .orderBy(col("id"))
  }

  /** The q99 admission fixture as signature frames — (corpus index,
    * delta), shared with q115 (the native stateful operator runs the
    * SAME inputs, so the two rows certify the same semantics through two
    * different execution paths).
    */
  private[graft] def q99Fixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = Tables.documents(s, dir)
      .filter(size(TextAnalysis.tokens(col("text"))) >= 8)
      .select(col("doc_id"), col("text"))
    val corpus = base.filter(col("doc_id") < 150)
    val fresh = base.filter(col("doc_id") >= 150 && col("doc_id") < 250)
    val toks = TextAnalysis.tokens(col("text"))
    def doctored(src: DataFrame, offset: Long) = src.select(
      (col("doc_id") + offset).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 5, lit(3)))).as("text"))
    val delta = fresh
      .unionByName(doctored(corpus, 100000L))
      .unionByName(doctored(fresh, 200000L))
    def sigs(df: DataFrame) = df
      .withColumn("hashes", Dedup.shingleHashes(col("text"), 3))
      .select(col("doc_id"), Dedup.minhashFromHashes(col("hashes"), 64).as("sig"))
    (sigs(corpus), sigs(delta))
  }

  /** The q99 admission pipeline's CTE chain (base … fd), shared with
    * q115's mirror (the native-stateful-operator batch form — same
    * fixture, same admission rule, extra window column). NOT stripped
    * here: callers embed it in their own stripMargin templates (the
    * [[ExtensionQueries10.bpeCtes]] double-strip note).
    */
  private[queries] def q99AdmissionCtes: String = {
    val toks = "string_split(text, ' ')"
    def doctor(expr: String) =
      s"array_to_string(list_slice($toks, 1, greatest(len($toks) - 5, 3)), ' ')"
    s"""base AS (
       |  SELECT doc_id, text FROM documents WHERE len($toks) >= 8
       |), corpus AS (
       |  SELECT doc_id, text FROM base WHERE doc_id < 150
       |), fresh AS (
       |  SELECT doc_id, text FROM base WHERE doc_id >= 150 AND doc_id < 250
       |), allv AS (
       |  SELECT doc_id, text, 0 AS src FROM corpus
       |  UNION ALL SELECT doc_id, text, 1 FROM fresh
       |  UNION ALL SELECT doc_id + 100000, ${doctor("text")}, 1 FROM corpus
       |  UNION ALL SELECT doc_id + 200000, ${doctor("text")}, 1 FROM fresh
       |), hs AS (
       |  SELECT doc_id, src, list_transform(
       |    list_transform(range(1, len($toks) - 1),
       |      sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + 2), ' ')),
       |    sh_s -> ${QueryBlocks.phSql("sh_s")}) AS hashes
       |  FROM allv
       |), sg AS (
       |  SELECT doc_id, src, list_transform(range(0, 64), mh_i ->
       |    list_min(list_transform(hashes, mh_h ->
       |      (mh_h * (((2*mh_i + 1) * 2654435761) % 1000000007) + (40503*mh_i + 1)) % 1000000007))) AS sig
       |  FROM hs
       |), bands AS (SELECT unnest(range(0, 16)) AS band
       |), banded AS (
       |  SELECT doc_id, src, band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, band*4 + 1, band*4 + 4)),
       |      (bk_a, bk_x) -> (bk_a*31 + bk_x) % 1000000007) AS bk
       |  FROM sg CROSS JOIN bands
       |), cand AS (
       |  SELECT DISTINCT d.doc_id AS id_d, p.doc_id AS id_p
       |  FROM banded d JOIN banded p
       |    ON d.band = p.band AND d.bk = p.bk AND d.src = 1
       |    AND (p.src = 0 OR p.doc_id < d.doc_id)
       |), est AS (
       |  SELECT id_d, id_p
       |  FROM cand JOIN sg sa ON id_d = sa.doc_id JOIN sg sb ON id_p = sb.doc_id
       |  WHERE CAST(list_sum(list_transform(range(1, 65),
       |    eq_i -> CASE WHEN sa.sig[eq_i] = sb.sig[eq_i] THEN 1 ELSE 0 END)) AS DOUBLE) / 64 >= 0.4
       |), fd AS (
       |  SELECT id_d, min(id_p) AS dup_of FROM est GROUP BY id_d
       |)"""
  }

  val q99Sql: String =
    s"""WITH $q99AdmissionCtes
       |SELECT a.doc_id AS id, (fd.dup_of IS NULL) AS keep, fd.dup_of
       |FROM allv a LEFT JOIN fd ON a.doc_id = fd.id_d
       |WHERE a.src = 1
       |ORDER BY id""".stripMargin

  // --------------------------------------------------------------- q100

  /** PCA components kept: 8 of 64 — enough for the corpus's ~10-cluster
    * structure, an 8× reduction for any downstream index.
    */
  private val PcaK = 8

  /** Explained-variance floor the certification row pins. This corpus's
    * embeddings are near-isotropic (per-component spectrum ≈ the
    * Marchenko-Pastur noise bulk), so the HONEST certified property is
    * "the solver returned the TOP directions", not "the data is
    * low-rank": top-8 capture 0.205 of total SS at sf0.01 and 0.160 at
    * sf0.1 (shrinking with training n, as MP predicts), vs 0.125 for 8
    * RANDOM directions and ~0.105 for the bottom-8. The 0.14 floor sits
    * between — a broken eigensolve, mis-sorted spectrum, or garbage
    * components red the row at either scale; the correct solver clears
    * it with ≥14% margin.
    */
  private val PcaVarFloor = 0.14

  private val pcaCache =
    new java.util.concurrent.ConcurrentHashMap[String, PcaProject.Model]()

  private[graft] def pcaModel(s: SparkSession, dir: String): PcaProject.Model =
    pcaCache.computeIfAbsent(dir,
      d => PcaProject.train(Tables.embeddings(s, d), "vec_id", "embedding", k = PcaK))

  /** q100: PCA projection ([[graft.ext.PcaProject]]) — project every
    * embedding onto the top-8 sample-trained principal components (the
    * dimensionality-reduction stage ahead of ANN indexing) plus an
    * explained-variance certification: the projected sum of squares must
    * capture ≥ [[PcaVarFloor]] of the total centered sum of squares, both
    * sides recomputed independently by the oracle from the SAME component
    * literals (the q47/q97 quality-certification family). Projections are
    * strict in-order folds, so all 8 coordinates hash bit-exactly; a
    * training/eigensolver/sign regression moves the coordinates AND the
    * boolean.
    */
  def q100_pca_project(s: SparkSession, dir: String): DataFrame =
    q100From(s, dir, pcaModel(s, dir))

  /** q100's plan for a GIVEN model — shared with q287, which runs it from
    * a saved+loaded model against the trained model's mirror.
    */
  private[queries] def q100From(s: SparkSession, dir: String,
      model: PcaProject.Model): DataFrame = {
    val k = model.components.length
    val e = Tables.embeddings(s, dir)
    val base = e.select(col("vec_id"),
        Similarity.toDouble(col("embedding")).as("v"))
      .select(col("vec_id") +: PcaProject.projections(model, col("v")) :+
        PcaProject.centeredSq(model, col("v")).as("__csq"): _*)
      .transform(graft.core.CacheScope.scoped)
    val projSq = (0 until k).map(j => col(s"p$j") * col(s"p$j"))
      .reduce(_ + _)
    val stats = base.agg(sum(projSq).as("__proj_ss"), sum(col("__csq")).as("__tot_ss"))
    base.crossJoin(broadcast(stats)) // 1-row scalar fan-out
      .select(col("vec_id") +: (0 until k).map(j => col(s"p$j")) :+
        (col("__proj_ss") >= lit(PcaVarFloor) * col("__tot_ss")).as("pca_var_ok"): _*)
      .orderBy(col("vec_id"))
  }

  /** Trained-cache view for the q287 persisted==trained mirror. */
  private[queries] def trainedPca(dir: String): Option[PcaProject.Model] =
    Option(pcaCache.get(dir))

  /** DuckDB mirror for a trained model: mean + components as DOUBLE[]
    * literals (dLit exponent form, so DuckDB parses them as DOUBLE),
    * projections as the same in-order fold, and the explained-variance
    * boolean recomputed from the data + literals.
    */
  def q100SqlFor(model: PcaProject.Model): String = {
    def arr(a: Array[Double]): String =
      a.map(ExtensionQueries6.dLit).mkString("CAST([", ", ", "] AS DOUBLE[])")
    def fold(cj: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, len(v)+1), pc_i -> (v[pc_i] - mv[pc_i]) * $cj[pc_i])), " +
        s"(pc_a, pc_b) -> pc_a + pc_b)"
    val csq =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, len(v)+1), pc_i -> (v[pc_i] - mv[pc_i]) * (v[pc_i] - mv[pc_i]))), " +
        s"(pc_a, pc_b) -> pc_a + pc_b)"
    val compCols = model.components.indices
      .map(j => s"${arr(model.components(j))} AS c$j").mkString(",\n    ")
    val projCols = model.components.indices
      .map(j => s"${fold(s"c$j")} AS p$j").mkString(",\n    ")
    val pSq = model.components.indices.map(j => s"p$j * p$j").mkString(" + ")
    val pCols = model.components.indices.map(j => s"p$j").mkString(", ")
    s"""WITH mdl AS (
       |  SELECT ${arr(model.mean)} AS mv,
       |    $compCols
       |), e AS (
       |  SELECT vec_id, list_transform(range(1, len(embedding)+1),
       |    pc_v -> CAST(embedding[pc_v] AS DOUBLE)) AS v
       |  FROM embeddings
       |), p AS (
       |  SELECT vec_id,
       |    $projCols,
       |    $csq AS csq
       |  FROM e CROSS JOIN mdl
       |), s AS (
       |  SELECT SUM($pSq) AS proj_ss, SUM(csq) AS tot_ss FROM p
       |)
       |SELECT vec_id, $pCols, (proj_ss >= $PcaVarFloor * tot_ss) AS pca_var_ok
       |FROM p, s ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------------------------- q101

  /** Recall floor for the PCA-shortlist path. Calibrated like q47/q97:
    * random 25-of-499 shortlisting would land 25/499 ≈ 0.05 of the exact
    * top-5 in the shortlist; measured recall is 0.370 at sf0.01 and
    * 0.150 at sf0.1 (2000 candidates for the same 25-slot shortlist —
    * random baseline 0.0125 there). 0.10 is the regression alarm: 2-8×
    * the random baselines, below the measured value at either scale.
    */
  private val PcaRecallFloor = 0.10

  /** q101: PCA-shortlist ANN recall certification (the q97 pattern for
    * the projected index): exact brute-force L2 top-5 per probe is
    * computed in-engine, the [[graft.ext.PcaProject.pcaTopK]] hits are
    * counted against it, and the output row is (n_exact, recall ≥ floor)
    * — DuckDB independently derives n_exact and pins the boolean TRUE,
    * so a regression in training, projection, shortlisting, or rerank
    * turns a hash-green row red. Probe-bounded (20 probes), the
    * certification cost, not a serving path.
    */
  def q101_pca_ann_recall(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val model = pcaModel(s, dir)
    val e = Tables.embeddings(s, dir)
    val raw = e.select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
    val a = raw.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
    val b = raw.select(col("vec_id").as("cand_id"), col("v").as("cv"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("d"), col("cand_id"))
    // 20-probe side broadcast: semantic bound, hint-declared (PlanGate)
    val exact = broadcast(a).join(b, col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        graft.functions.VectorOps.l2sq(col("pv"), col("cv")).as("d"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 5)
      .select(col("probe_id"), col("cand_id"))
    val pca = PcaProject.pcaTopK(e, "vec_id", "embedding",
        col("id") < 20, 5, model, shortlist = 25)
      .select(col("probe_id"), col("cand_id"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val hits = exact.join(pca, Seq("probe_id", "cand_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    nExact.crossJoin(hits)
      .select(col("n_exact"),
        (col("__hits").cast("double") / col("n_exact") >= PcaRecallFloor)
          .as("pca_recall_ok"))
  }

  val q101Sql: String = {
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
       |s AS (
       |  SELECT probe_id, cand_id, ${l2Sql("pv", "cv")} AS d
       |  FROM p CROSS JOIN c WHERE probe_id <> cand_id
       |), topk AS (
       |  SELECT probe_id, cand_id,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY d, cand_id) AS rank
       |  FROM s QUALIFY rank <= 5
       |)
       |SELECT count(*) AS n_exact, true AS pca_recall_ok FROM topk""".stripMargin
  }

  // --------------------------------------------------------------- q102

  /** q102: interval-OVERLAP join ([[graft.ops.RangeJoin.bucketedOverlap]])
    * — the two-sided generalization of q86's point-in-interval join:
    * every 200th event opens a 30-minute maintenance window, every 300th
    * a 20-minute incident window; emit one row per overlapping pair with
    * the exact overlap length. The canonical-bucket trick makes the
    * bucket join duplicate-free WITHOUT a distinct: a pair is emitted
    * only in the bucket of max(start_a, start_b). Time math is exact
    * integer ns both engines (the q77/q86 contract); the oracle is the
    * bare overlap join.
    */
  def q102_interval_overlap(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def windows(everyN: Int, lenMin: Int, idName: String, sName: String, eName: String) =
      ev.filter(pmod(col("event_id"), lit(everyN.toLong)) === 0)
        .select(col("event_id").as(idName),
          col("ts").cast("long").as(sName),
          (col("ts").cast("long") + lenMin * NsPerMin).as(eName))
    val a = windows(200, 30, "a_id", "a_s", "a_e")
    val b = windows(300, 20, "b_id", "b_s", "b_e")
    graft.ops.RangeJoin.bucketedOverlap(a, "a_s", "a_e", b, "b_s", "b_e",
        width = 30L * NsPerMin)
      .select(col("a_id"), col("b_id"),
        (least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
          .as("overlap_ns"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val q102Sql: String =
    s"""WITH a AS (
       |  SELECT event_id AS a_id, epoch_us(ts) * 1000 AS a_s,
       |    epoch_us(ts) * 1000 + ${30L * NsPerMin} AS a_e
       |  FROM events WHERE event_id % 200 = 0
       |), b AS (
       |  SELECT event_id AS b_id, epoch_us(ts) * 1000 AS b_s,
       |    epoch_us(ts) * 1000 + ${20L * NsPerMin} AS b_e
       |  FROM events WHERE event_id % 300 = 0
       |)
       |SELECT a_id, b_id, least(a_e, b_e) - greatest(a_s, b_s) AS overlap_ns
       |FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
       |ORDER BY a_id, b_id""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q99_incremental_minhash", q99_incremental_minhash _, q99Sql),
    Query("q100_pca_project", q100_pca_project _,
      Oracle.Model(d => trainedPca(d).map(q100SqlFor))),
    Query("q101_pca_ann_recall", q101_pca_ann_recall _, q101Sql),
    Query("q102_interval_overlap", q102_interval_overlap _, q102Sql)
  )
}
