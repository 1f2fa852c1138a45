package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization — the compression half of a FAISS-style IVF-PQ
  * index, and the missing piece between "IVF routes the search" (q38)
  * and "100 TB of raw float vectors don't fit anywhere": the vector
  * column is replaced by `m` small codes (here 8 codes of 4 bits — a
  * 64-dim float vector compresses 256 bytes → 8), and probe-to-candidate
  * distances are approximated asymmetrically (ADC): the probe computes
  * one small lookup table per subspace, and each candidate costs `m`
  * array lookups instead of a `dim`-length dot product. Recall loss is
  * the price; SimilaritySpec pins a recall floor against brute force.
  *
  * Training mirrors [[IvfIndex]] exactly (same deterministic hash
  * sample, same driver-local Lloyd's per subspace), so the whole model
  * rides into the plan as literals and the DuckDB oracle can replay
  * encoding + ADC bit-exactly.
  */
object PqIndex {

  /** codebooks(mi)(ki) = the ki-th centroid of subspace mi (subDim wide). */
  final case class Model(subDim: Int, codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks.head.length
  }

  def train(emb: DataFrame, idCol: String, vecCol: String, m: Int,
      ksub: Int = 16, seed: Long = 42L, maxTrain: Int = 10000,
      iters: Int = 10): Model = {
    val pts = IvfIndex.sampleVectors(emb, idCol, vecCol, maxTrain, seed,
      minNeeded = ksub)
    val dim = pts.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val books = Array.tabulate(m) { mi =>
      IvfIndex.kmeansLocal(
        pts.map(_.slice(mi * subDim, (mi + 1) * subDim)), ksub, iters)
    }
    Model(subDim, books)
  }

  private def sub(vec: Column, model: Model, mi: Int): Column =
    slice(vec, mi * model.subDim + 1, model.subDim)

  private def subDist(vec: Column, model: Model, mi: Int, ki: Int): Column =
    graft.functions.VectorOps.l2sq(sub(vec, model, mi),
      array(model.codebooks(mi)(ki).map(lit): _*))

  /** Per-subspace argmin code, as an array<int> column. Same sort-of-
    * (dist, index)-structs trick as [[IvfIndex.probeLists]] (a when-fold
    * would duplicate the running min per step); strict sort → lowest
    * index wins ties, matching the oracle's `ORDER BY dist, ki`.
    */
  def encode(model: Model, vec: Column): Column =
    array((0 until model.m).map { mi =>
      val pairs = array((0 until model.ksub).map { ki =>
        struct(subDist(vec, model, mi, ki).as("d"), lit(ki).as("i"))
      }: _*)
      element_at(array_sort(pairs), 1).getField("i")
    }: _*)

  /** The probe's ADC lookup tables: array(m) of array(ksub) of the
    * probe-subvector-to-centroid distances — computed ONCE per probe
    * row; every candidate pair then costs m `element_at`s.
    */
  def lut(model: Model, vec: Column): Column =
    array((0 until model.m).map { mi =>
      array((0 until model.ksub).map(ki => subDist(vec, model, mi, ki)): _*)
    }: _*)

  /** Asymmetric distance: left-to-right sum of the per-subspace lookups
    * (order pinned — the oracle folds the same mi order). */
  def adc(lutCol: Column, codes: Column, m: Int): Column =
    (0 until m).map { mi =>
      element_at(element_at(lutCol, mi + 1), element_at(codes, mi + 1) + 1)
    }.reduce(_ + _)

  /** IVF-PQ top-k with exact rerank (the FAISS `IndexRefine` shape):
    * IVF lists bound the candidate set; PQ codes price every candidate
    * at m lookups; the per-probe ADC shortlist (`rerank` rows) is then
    * re-scored with EXACT L2 and the final k ranked on that. The scale
    * story: the wide join runs entirely on (id, list, codes) — raw
    * vectors are fetched by id only for the `rerank`-per-probe
    * shortlist, so quantization distortion affects which candidates
    * make the shortlist but never the final ordering. Recall is then
    * bounded by IVF probe coverage ∩ ADC@rerank, pinned in
    * SimilaritySpec.
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
      isProbe: Column, k: Int, ivf: IvfIndex.Model, nprobe: Int,
      pq: Model, rerank: Int = 25): DataFrame = {
    import Similarity.toDouble
    val raw = emb.select(col(idCol).as("cand_id"), toDouble(col(vecCol)).as("cvec"))
    val cands = raw.select(col("cand_id"),
      IvfIndex.listId(ivf, col("cvec")).as("list"),
      encode(pq, col("cvec")).as("codes"))
    val probeRaw = emb.filter(isProbe)
      .select(col(idCol).as("probe_id"), toDouble(col(vecCol)).as("pvec"))
    val probes = probeRaw
      .select(col("probe_id"), lut(pq, col("pvec")).as("lut"),
        explode(IvfIndex.probeLists(ivf, col("pvec"), nprobe)).as("list"))
    val scored = probes.join(cands, Seq("list"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        adc(col("lut"), col("codes"), pq.m).as("adc_dist"))
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dist"), col("cand_id"))
    val shortlist = scored
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= rerank)
      .select(col("probe_id"), col("cand_id"))
    val exact = shortlist
      .join(probeRaw, Seq("probe_id"))
      .join(raw, Seq("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        graft.functions.VectorOps.l2sq(col("pvec"), col("cvec")).as("l2_dist"))
    val wL2 = Window.partitionBy(col("probe_id"))
      .orderBy(col("l2_dist"), col("cand_id"))
    exact.withColumn("rank", row_number().over(wL2).cast("int"))
      .filter(col("rank") <= k)
  }
}
