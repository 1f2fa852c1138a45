package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic content-table generator for the true-sf1 scaling rung
  * (round-5 verdict ask #5). The driver ships no sf1 testdata and no
  * generator source; replicating sf0.1's text byte-for-byte would
  * synthesize a pathological 100%-duplicate corpus, so this extends the
  * LAW the shipped corpus follows — measured from the data itself:
  *
  *  - documents: bag-of-words over the corpus's own 31-token vocabulary
  *    (read from sf0.1, not hardcoded), token count uniform on [10, 100],
  *    lang ∈ {en 40%, de/es/fr/zh 15% each}, source = src(id % 20),
  *    ~0.16% exact-duplicate rate (sf0.1 has 8 dup texts / 5000 — dups
  *    matter: the dedup operators' candidate densities must scale, not
  *    vanish);
  *  - embeddings: 10 roughly-equal clusters of unit-normalized 64-dim
  *    vectors (center per label + per-vector noise), the structure the
  *    IVF/SemDeDup models train on.
  *
  * Everything derives from xxhash64 of (id, position) — no RNG, so any
  * two runs (or executors) generate identical bytes, the repo-wide
  * determinism contract. Generation is one `spark.range` projection per
  * table: embarrassingly parallel, no shuffle, scales to any sf.
  */
object CorpusGen {

  /** Uniform-ish value in [0, 1) from a 20-bit hash slice. */
  private def u01(seed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(seed, lit(1048576L)).cast("double") / 1048576.0

  def documents(s: SparkSession, n: Long, srcDir: String): DataFrame = {
    val vocab = s.read.parquet(s"$srcDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .distinct().orderBy(col("tok"))
      .collect().map(_.getString(0)) // 31 tokens — driver-bounded
    val vocabArr = array(vocab.map(lit).toIndexedSeq: _*)
    val base = s.range(n)
      // ~1 in 625 docs reuses the previous id's seed → exact duplicate text
      .withColumn("seed",
        when(pmod(col("id"), lit(625)) === 624, col("id") - 1).otherwise(col("id")))
      .withColumn("ntok", (pmod(xxhash64(col("seed"), lit(1L)), lit(91)) + 10).cast("int"))
    base.select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), col("ntok")),
          i => element_at(vocabArr,
            (pmod(xxhash64(col("seed"), i.cast("long"), lit(2L)), lit(vocab.length)) + 1)
              .cast("int")))).as("text"),
        when(pmod(xxhash64(col("id"), lit(3L)), lit(20)) < 8, "en")
          .when(pmod(xxhash64(col("id"), lit(3L)), lit(20)) < 11, "de")
          .when(pmod(xxhash64(col("id"), lit(3L)), lit(20)) < 14, "es")
          .when(pmod(xxhash64(col("id"), lit(3L)), lit(20)) < 17, "fr")
          .otherwise("zh").as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  def embeddings(s: SparkSession, n: Long, dim: Int = 64,
      nClusters: Int = 10): DataFrame = {
    val v = s.range(n)
      .withColumn("label", pmod(xxhash64(col("id"), lit(7L)), lit(nClusters)).cast("int"))
      .withColumn("raw", transform(sequence(lit(1), lit(dim)), j => {
        val center = u01(xxhash64(col("label").cast("long"), j.cast("long"), lit(11L))) * 2.0 - 1.0
        val noise = u01(xxhash64(col("id"), j.cast("long"), lit(13L))) * 2.0 - 1.0
        center + noise * 0.35
      }))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
    v.select(col("id").as("vec_id"),
      transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
      col("label"))
  }

  /** Write the content tables at 10× the cardinalities of `srcDir`'s. */
  def writeContent(s: SparkSession, srcDir: String, dst: String): Unit = {
    def rows(t: String) = 10 * s.read.parquet(s"$srcDir/$t.parquet").count()
    documents(s, rows("documents"), srcDir).repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    embeddings(s, rows("embeddings")).repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }
}
