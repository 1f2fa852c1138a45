package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Bpe, ModelStore, PqIndex, TextAnalysis}

/** Round-11 batch: model-artifact lifecycle (round-10 verdict task #3).
  *
  * Every ANN/tokenizer query so far retrains its model per session —
  * correct for self-contained oracles, but a production 100 TB pipeline
  * trains an index ONCE and serves it across many runs: the model is a
  * persisted artifact, not a session side effect. [[graft.ext.ModelStore]]
  * adds the parquet save/load; the three queries here gate the round trip:
  * each runs an existing query's exact plan (q93 IVF-PQ, q112 BPE, q100
  * PCA) built from a model that has been SAVED to parquet and LOADED back,
  * while the DuckDB mirror embeds the freshly-TRAINED model's literals.
  * Trained and loaded sides never share an object — if the store drops a
  * bit (double truncation, row reorder, subspace shuffle, merge-rank
  * swap), the Spark result diverges from the mirror and the row reds.
  *
  * Scale shape: unchanged from the twins — the loaded model rides the plan
  * as literals exactly like a trained one; store I/O is a few KB of
  * parquet per model, once per session.
  */
object ExtensionQueries64 extends QueryGroup {

  /** Loaded-model memo per dir — the round trip happens once per (JVM,
    * dir); every consumer call replays the plan from the loaded literals.
    */
  private val loadedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (graft.ext.IvfIndex.Model,
      PqIndex.Model, Bpe.Model, graft.ext.PcaProject.Model)]()

  private[graft] def loadedModels(s: SparkSession, dir: String) =
    loadedCache.computeIfAbsent(dir, d => (
      ModelStore.roundTrip(s, ModelStore.saveIvf, ModelStore.loadIvf)(
        ExtensionQueries6.ivfModel(s, d)),
      ModelStore.roundTrip(s, ModelStore.savePq, ModelStore.loadPq)(
        ExtensionQueries6.pqModel(s, d)),
      ModelStore.roundTrip(s, ModelStore.saveBpe, ModelStore.loadBpe)(
        ExtensionQueries10.bpeModel(s, d)),
      ModelStore.roundTrip(s, ModelStore.savePca, ModelStore.loadPca)(
        ExtensionQueries7.pcaModel(s, d))))

  // --------------------------------------------------------------- q285

  /** q285: q93's IVF-PQ top-k with exact rerank, run from persisted
    * models — same plan, same mirror (trained literals), the store in
    * between. See [[graft.queries.ExtensionQueries6.q93_ann_ivfpq]].
    */
  def q285_ivfpq_persisted(s: SparkSession, dir: String): DataFrame = {
    val (ivf, pq, _, _) = loadedModels(s, dir)
    PqIndex.ivfPqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") < 20, 5, ivf, nprobe = 4, pq)
      .select(col("probe_id"), col("rank"), col("cand_id"), col("l2_dist"))
      .orderBy(col("probe_id"), col("rank"))
  }

  // --------------------------------------------------------------- q286

  /** q286: q112's BPE token counts under the persisted merge table. See
    * [[graft.queries.ExtensionQueries10.q112_bpe_tokens]].
    */
  def q286_bpe_persisted(s: SparkSession, dir: String): DataFrame = {
    val (_, _, bpe, _) = loadedModels(s, dir)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.regexTokenCount(col("text")).cast("long").as("n_pretok"),
        Bpe.tokenCount(col("text"), bpe).as("n_bpe"))
      .withColumn("bpe_per_mille", expr("(n_bpe * 1000) div nullif(n_pretok, 0L)"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q287

  /** q287: q100's PCA projection + variance certification from the
    * persisted mean/components. See
    * [[graft.queries.ExtensionQueries7.q100_pca_project]].
    */
  def q287_pca_persisted(s: SparkSession, dir: String): DataFrame = {
    val (_, _, _, pca) = loadedModels(s, dir)
    ExtensionQueries7.q100From(s, dir, pca)
  }

  // persisted==trained mirrors (q285-q287, q290): the TRAINED caches'
  // literals, never the loaded models (the whole point of the gate)
  val entries: Seq[Query] = Seq(
    Query("q285_ivfpq_persisted", q285_ivfpq_persisted _, Oracle.Model(d => for {
      ivf <- ExtensionQueries6.trainedIvf(d)
      pq <- ExtensionQueries6.trainedPq(d)
    } yield ExtensionQueries6.q93SqlFor(ivf, pq))),
    Query("q286_bpe_persisted", q286_bpe_persisted _, Oracle.Model(d =>
      ExtensionQueries10.trainedBpe(d).map(ExtensionQueries10.q112SqlFor))),
    Query("q287_pca_persisted", q287_pca_persisted _, Oracle.Model(d =>
      ExtensionQueries7.trainedPca(d).map(ExtensionQueries7.q100SqlFor)))
  )
}
