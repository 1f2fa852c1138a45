package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.DenseIds

/** Round-12 batch 13: the two honesty completions of earlier tiers.
  *
  *  - q353 cluster-aware decontamination: q48 catches eval docs leaked
  *    VERBATIM-ish (shared n-grams); the documented best practice also
  *    drops the near-duplicates OF eval members — a paraphrased eval
  *    doc leaks through exact-gram decontam but not through its dedup
  *    cluster. Flags every non-eval member of any q42 cluster touching
  *    the eval set.
  *  - q354 shuffle-quality certificate: q308 orders epochs by the
  *    two-round MINSTD hash; this query MEASURES the permutation
  *    distance between epoch 0 and epoch 1 over the WHOLE corpus —
  *    mean absolute rank displacement (≈ n/3 for independent
  *    permutations), max displacement, and fixed points. The q308
  *    one-round bug (epoch orders nearly identical) would score ~0
  *    here; the certificate turns "the epochs differ" from a spec
  *    assertion into a reported number. Ranks come from two
  *    [[DenseIds]] two-phase passes — never a global window.
  */
object ExtensionQueries87 extends QueryGroup {

  // --------------------------------------------------------------- q353

  /** q353: per q42 cluster touching the eval set (cluster-corpus ids
    * < 5): size, eval members, and the non-eval members to drop.
    */
  def q353_cluster_decontam(s: SparkSession, dir: String): DataFrame = {
    val cl = ExtensionQueries2.q42ClustersStaged(s, dir)
    val evalReps = cl.filter(col("id") < 5).select(col("rep")).distinct()
    cl.join(evalReps, "rep")
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("size"),
        sum(when(col("id") < 5, 1L).otherwise(0L)).as("n_eval_members"),
        sum(when(col("id") >= 5, 1L).otherwise(0L)).as("n_flagged"),
        expr("array_join(transform(sort_array(collect_list(" +
          "CASE WHEN id >= 5 THEN id END)), fx -> CAST(fx AS STRING)), ',')")
          .as("flagged_ids"))
      .orderBy(col("rep"))
  }

  val q353Sql: String =
    s"""${ExtensionQueries2.q42ClusterCtes},
       |er AS (SELECT DISTINCT rep FROM lbl WHERE id < 5)
       |SELECT rep, count(*) AS size,
       |  CAST(sum(CASE WHEN id < 5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_eval_members,
       |  CAST(sum(CASE WHEN id >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  array_to_string(list_transform(
       |    list_sort(list(id) FILTER (WHERE id >= 5)),
       |    fx -> CAST(fx AS VARCHAR)), ',') AS flagged_ids
       |FROM lbl JOIN er USING (rep)
       |GROUP BY rep ORDER BY rep""".stripMargin

  // --------------------------------------------------------------- q354

  /** Two-round MINSTD with the epoch-swapped second multiplier (the
    * q308 contract).
    */
  private def epochHash(e: Int) = {
    val a = Seq(48271L, 69621L, 16807L)(e)
    expr(s"($a * (((48271 * (doc_id + 1)) % 2147483647) + 1)) % 2147483647")
  }

  /** q354: permutation distance between epoch 0 and epoch 1 — Σ|Δpos|,
    * its ppm of the n²-scale maximum, the max displacement, and fixed
    * points. Independent permutations score mean |Δ| ≈ n/3, i.e.
    * ppm_of_n ≈ 333333; a broken (order-preserving) shuffle scores ≈ 0.
    */
  def q354_shuffle_quality(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"))
    def ranked(e: Int, posName: String) =
      DenseIds.withDenseId(d.withColumn("h", epochHash(e)), posName, 32,
        col("h"), col("doc_id")).select(col("doc_id"), col(posName))
    ranked(0, "p0").join(ranked(1, "p1"), "doc_id")
      .select(abs(col("p0") - col("p1")).as("disp"))
      .agg(count(lit(1)).as("n"), sum(col("disp")).as("sum_disp"),
        max(col("disp")).as("max_disp"),
        sum(when(col("disp") === 0, 1L).otherwise(0L)).as("fixed_points"))
      .select(col("n"), col("sum_disp"), col("max_disp"), col("fixed_points"),
        // widen to DECIMAL(38,0) before the ×1e6: sum_disp ≈ n²/3 overflows
        // LongType at n ≈ 5e6 docs, while the DuckDB mirror promotes to
        // HUGEINT; decimal keeps both exact to n ≈ 1.7e16 (product < 1e38)
        expr("CAST(CAST(sum_disp AS DECIMAL(38,0)) * 1000000 div (n * n) AS BIGINT)")
          .as("mean_disp_ppm_of_n"))
  }

  val q354Sql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    (48271 * (((48271 * (doc_id + 1)) % 2147483647) + 1)) % 2147483647 AS h0,
      |    (69621 * (((48271 * (doc_id + 1)) % 2147483647) + 1)) % 2147483647 AS h1
      |  FROM documents
      |), r AS (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY h0, doc_id) - 1 AS p0,
      |    row_number() OVER (ORDER BY h1, doc_id) - 1 AS p1
      |  FROM h
      |), d AS (SELECT abs(p0 - p1) AS disp FROM r)
      |SELECT count(*) AS n, CAST(sum(disp) AS BIGINT) AS sum_disp,
      |  CAST(max(disp) AS BIGINT) AS max_disp,
      |  CAST(sum(CASE WHEN disp = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS fixed_points,
      |  CAST(sum(disp) * 1000000 // (count(*) * count(*)) AS BIGINT)
      |    AS mean_disp_ppm_of_n
      |FROM d""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q353_cluster_decontam", q353_cluster_decontam _, q353Sql),
    Query("q354_shuffle_quality", q354_shuffle_quality _, q354Sql)
  )
}
