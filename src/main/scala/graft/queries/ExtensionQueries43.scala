package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import QueryBlocks.Q20

/** Embedding-quality and context-budget audits — the
  * data-quality screens an embedding/training pipeline runs before the
  * expensive tiers. Exact-integer, DuckDB-oracle-gated.
  *
  *  - q222: embedding norm audit — broken-vector detection by robust
  *    norm² fences.
  *  - q223: dead-dimension screen — per-dimension variance floor.
  *  - q224: truncation loss at context K — docs and tokens lost.
  */
object ExtensionQueries43 extends QueryGroup {

  // --------------------------------------------------------------- q222

  /** q222: embedding norm audit — each vector's quantized squared norm
    * `Σ floor(x·2²⁰)²` (exact: float→double is exact; ×2²⁰ is exact;
    * floor pins the only rounding identically on both engines) folded
    * to the one-row corpus CERTIFICATE: n, min/median/max norm², the
    * count outside the [med/4, 4·med] broken-vector band (zero,
    * double-normalized, and exploded vectors all land there), and the
    * `unit_normalized` verdict `(mx − mn)·100 < med` — the property
    * that licenses every cosine≡dot shortcut downstream. On this
    * corpus the verdict is TRUE (spread ≈ 4·10⁻⁶ of the norm) and the
    * oracle pins it.
    *
    * Scale shape: the norm² folds inside `aggregate()` over the array
    * column (codegen'd higher-order function, no row explosion); the
    * median runs through the TWO-PHASE prefix scan over the value-keyed
    * count frame (norm² values are near-unique — q183's discipline,
    * never a single-reducer window); fences are cross-multiplied
    * integers.
    */
  def q222_embedding_norm_audit(s: SparkSession, dir: String): DataFrame = {
    val norms = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr(s"aggregate(embedding, CAST(0 AS BIGINT), (acc, x) -> " +
          s"acc + CAST(floor(CAST(x AS DOUBLE) * $Q20) AS BIGINT) * " +
          s"CAST(floor(CAST(x AS DOUBLE) * $Q20) AS BIGINT))").as("norm2"))
    val counts = norms.groupBy(col("norm2")).agg(count(lit(1)).as("cnt"))
    val total = norms.agg(count(lit(1)).as("n"))
    val med = graft.ops.PrefixScan
      .prefixSumsInclusive(counts, 16, Seq(col("norm2")),
        Seq((col("cnt"), "cum")))
      .crossJoin(broadcast(total))
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("norm2")))
        .as("med_norm2"))
    norms.crossJoin(broadcast(med))
      .agg(count(lit(1)).as("n_vectors"), min(col("norm2")).as("min_norm2"),
        max(col("norm2")).as("max_norm2"),
        sum(when(col("norm2") * 4 < col("med_norm2") ||
          col("norm2") > col("med_norm2") * 4, 1L).otherwise(0L))
          .as("n_broken"),
        first(col("med_norm2")).as("med_norm2"))
      .select(col("n_vectors"), col("min_norm2"), col("med_norm2"),
        col("max_norm2"), col("n_broken"),
        ((col("max_norm2") - col("min_norm2")) * 100 < col("med_norm2"))
          .as("unit_normalized"))
  }

  val q222Sql: String =
    s"""WITH n AS (
       |  SELECT vec_id,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(embedding, nx ->
       |        CAST(floor(CAST(nx AS DOUBLE) * $Q20) AS BIGINT)
       |        * CAST(floor(CAST(nx AS DOUBLE) * $Q20) AS BIGINT))),
       |      (na, nb) -> na + nb) AS BIGINT) AS norm2
       |  FROM embeddings
       |), t AS (SELECT count(*) AS cn FROM n
       |), m AS (
       |  SELECT min(norm2) AS med_norm2 FROM (
       |    SELECT norm2,
       |      CAST(sum(count(*)) OVER (ORDER BY norm2
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        AS cum
       |    FROM n GROUP BY norm2
       |  ), t WHERE cum >= (cn + 1) // 2
       |)
       |SELECT count(*) AS n_vectors,
       |  CAST(min(norm2) AS BIGINT) AS min_norm2,
       |  CAST(min(med_norm2) AS BIGINT) AS med_norm2,
       |  CAST(max(norm2) AS BIGINT) AS max_norm2,
       |  CAST(sum(CASE WHEN norm2 * 4 < med_norm2
       |    OR norm2 > med_norm2 * 4 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_broken,
       |  (max(norm2) - min(norm2)) * 100 < min(med_norm2)
       |    AS unit_normalized
       |FROM n, m""".stripMargin

  // --------------------------------------------------------------- q223

  /** q223: dead-dimension screen — per embedding dimension, the exact
    * integer variance numerator `n·Σq² − (Σq)²` over the q165
    * quantization, reported for the 5 LOWEST-variance dimensions
    * (candidates for pruning — a dimension the encoder never uses is
    * pure storage waste) alongside the corpus-wide median dimension
    * variance for scale.
    *
    * Scale shape: one posexplode pass → (dim)-keyed moment aggregate
    * (map-side combined, pure long arithmetic); ranking a |dims|-sized
    * frame is trivial. 64-bit bounds: |q| ≤ 2²⁰ for unit-range floats,
    * q² ≤ 2⁴⁰, Σ over 10⁶ vectors ≤ 2⁶⁰; the n·Σq² product needs the
    * DECIMAL(38) upgrade past ~10⁴ vectors ONLY if components exceed
    * unit range — these are unit-normalized-ish, and at this corpus
    * size the product stays < 2⁶². Documented ceiling.
    */
  def q223_dead_dimensions(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        expr(s"CAST(floor(CAST(x AS DOUBLE) * $Q20) AS BIGINT)").as("qv"))
    q.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("s1"),
        sum(col("qv") * col("qv")).as("s2"))
      .select(col("dim"), col("n"),
        (col("n") * col("s2") - col("s1") * col("s1")).as("var_num"))
      .orderBy(col("var_num"), col("dim"))
      .limit(5)
  }

  val q223Sql: String =
    s"""WITH q AS (
       |  SELECT unnest(range(1, len(embedding) + 1)) - 1 AS dim,
       |    unnest(list_transform(embedding, qx ->
       |      CAST(floor(CAST(qx AS DOUBLE) * $Q20) AS BIGINT))) AS qv
       |  FROM embeddings
       |)
       |SELECT dim, count(*) AS n,
       |  CAST(count(*) * sum(qv * qv) - sum(qv) * sum(qv) AS BIGINT)
       |    AS var_num
       |FROM q GROUP BY dim
       |ORDER BY var_num, dim
       |LIMIT 5""".stripMargin

  // --------------------------------------------------------------- q224

  /** q224: truncation loss at context length K — for K ∈ {64, 128,
    * 256} whitespace tokens, the share of documents that would be
    * truncated and the share of TOKENS that would be dropped, both in
    * exact ppm. The context-budget design input that pairs with q184's
    * vocabulary curve: K is chosen where token loss, not doc count,
    * falls below budget.
    *
    * Scale shape: per-doc token counts are one split+size projection
    * (no explosion); each K is a conditional sum over the same
    * doc-count frame — one pass, three budgets; totals broadcast.
    */
  def q224_truncation_loss(s: SparkSession, dir: String): DataFrame = {
    val lens = Tables.documents(s, dir)
      .select(size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val ks = s.createDataFrame(Seq(Tuple1(64L), Tuple1(128L), Tuple1(256L)))
      .toDF("k")
    lens.crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("n_tokens") > col("k"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum(when(col("n_tokens") > col("k"), col("n_tokens") - col("k"))
          .otherwise(0L)).as("tokens_lost"))
      .select(col("k"), col("n_truncated"), col("tokens_lost"),
        expr("n_truncated * 1000000 div n_docs").as("doc_trunc_ppm"),
        expr("tokens_lost * 1000000 div n_tokens").as("token_loss_ppm"))
      .orderBy(col("k"))
  }

  val q224Sql: String =
    """WITH l AS (
      |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), ks AS (SELECT CAST(unnest([64, 128, 256]) AS BIGINT) AS k)
      |SELECT k,
      |  CAST(sum(CASE WHEN n_tokens > k THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_truncated,
      |  CAST(sum(CASE WHEN n_tokens > k THEN n_tokens - k ELSE 0 END)
      |    AS BIGINT) AS tokens_lost,
      |  CAST(sum(CASE WHEN n_tokens > k THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS doc_trunc_ppm,
      |  CAST(sum(CASE WHEN n_tokens > k THEN n_tokens - k ELSE 0 END)
      |    * 1000000 // sum(n_tokens) AS BIGINT) AS token_loss_ppm
      |FROM l, ks
      |GROUP BY k
      |ORDER BY k""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q222_embedding_norm_audit", q222_embedding_norm_audit _, q222Sql),
    Query("q223_dead_dimensions", q223_dead_dimensions _, q223Sql),
    Query("q224_truncation_loss", q224_truncation_loss _, q224Sql)
  )
}
