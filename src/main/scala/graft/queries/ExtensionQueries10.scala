package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Bpe, IvfIndex, Similarity, TextAnalysis}
import QueryBlocks.dotSql

/** Real BPE tokenization for the budget/packing tier. The merge table is trained once per
  * sf dir ([[bpeModel]], the q38/q93 memoization pattern) and the DuckDB
  * mirrors embed the learned merges as literals, replaying the greedy
  * merge loop with a recursive CTE over the corpus's DISTINCT pre-tokens
  * — bounded-iteration integer arithmetic, bit-exact cross-engine.
  */
object ExtensionQueries10 extends QueryGroup {

  private val bpeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Bpe.Model]()

  /** Memoized per-dir trained model; the oracle mirror embeds exactly
    * these merges, generated AFTER the query has trained (Verify dumps
    * oracle_sql.json last).
    */
  def bpeModel(s: SparkSession, dir: String): Bpe.Model =
    bpeCache.computeIfAbsent(dir, d => Bpe.train(Tables.documents(s, d), "text"))

  /** Trained-cache view for the q286 persisted==trained mirror. */
  private[queries] def trainedBpe(dir: String): Option[Bpe.Model] =
    Option(bpeCache.get(dir))

  // --------------------------------------------------------------- q112

  /** q112: real BPE token counts per document — pre-tokenizer segments
    * (q96's regex), BPE tokens under the trained merge table, and the
    * bpe/pretoken compression per-mille (exact integer division). One
    * codegen'd scan, embarrassingly parallel: the merge table rides the
    * plan, nothing shuffles but the output sort.
    */
  def q112_bpe_tokens(s: SparkSession, dir: String): DataFrame = {
    val m = bpeModel(s, dir)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.regexTokenCount(col("text")).cast("long").as("n_pretok"),
        Bpe.tokenCount(col("text"), m).as("n_bpe"))
      .withColumn("bpe_per_mille", expr("(n_bpe * 1000) div nullif(n_pretok, 0L)"))
      .orderBy(col("doc_id"))
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The merge table as a DuckDB list literal, rank order = position;
    * pair keys join left/right with chr(31), the same separator the
    * engine's rank map uses ([[graft.ext.Bpe.Sep]]).
    */
  private def mergeListSql(model: Bpe.Model): String =
    model.merges
      .map { case (a, b) => s"${sqlLit(a)} || chr(31) || ${sqlLit(b)}" }
      .mkString("[", ", ", "]")

  /** Adjacent-pair rank list for a `syms` list column: rank of (i, i+1)
    * under the merge table, NULL/0 when the pair is not a rule.
    */
  private def ranksSql(model: Bpe.Model): String =
    s"list_transform(range(1, len(syms)), bp_i -> " +
      s"list_position(${mergeListSql(model)}, syms[bp_i] || chr(31) || syms[bp_i+1]))"

  private def bestRankSql(model: Bpe.Model): String =
    s"list_min(list_filter(${ranksSql(model)}, bp_r -> bp_r IS NOT NULL AND bp_r > 0))"

  /** The shared recursive encode: `bpe_words` (distinct corpus
    * pre-tokens) → `enc` (one leftmost lowest-rank merge per step — see
    * the equivalence note in [[graft.ext.Bpe]]) → `bpe_wc(tok, n)`
    * terminal token counts. Callers prefix `WITH RECURSIVE` and join
    * `bpe_wc` back to per-document pre-tokens.
    */
  def bpeCtes(model: Bpe.Model): String = bpeCtes(model, "bpe")

  /** Prefixed form: `p` namespaces every CTE so two encode chains (two
    * tokenizer GENERATIONS — the q490 drift mirror) coexist in one
    * statement. `bpeCtes(m)` ≡ `bpeCtes(m, "bpe")` except the recursive
    * CTE keeps the historical bare name `enc` only under the default
    * prefix for the committed q112/q54 mirrors' readability.
    */
  def bpeCtes(model: Bpe.Model, p: String): String = {
    val pat = sqlLit(TextAnalysis.BpeSplitPattern)
    val enc = if (p == "bpe") "enc" else s"${p}_enc"
    // NOT stripped here: the callers embed this text in their own
    // stripMargin templates, and a double strip would eat the first pipe
    // of any line-leading `||` list concat (observed: binder error on
    // `|(VARCHAR[], VARCHAR[])`)
    s"""${p}_words AS (
       |  SELECT DISTINCT unnest(regexp_extract_all(text, $pat)) AS tok
       |  FROM documents
       |), $enc AS (
       |  SELECT tok, list_transform(range(1, length(tok)+1), bp_c -> tok[bp_c]) AS syms
       |  FROM ${p}_words
       |  UNION ALL
       |  SELECT tok,
       |    list_slice(syms, 1, bi - 1) || [syms[bi] || syms[bi + 1]]
       |      || list_slice(syms, bi + 2, len(syms))
       |  FROM (
       |    SELECT tok, syms,
       |      CASE WHEN ${bestRankSql(model)} IS NULL THEN NULL
       |           ELSE list_position(${ranksSql(model)}, ${bestRankSql(model)})
       |      END AS bi
       |    FROM $enc
       |  ) WHERE bi IS NOT NULL AND bi > 0
       |), ${p}_wc AS (
       |  SELECT tok, len(syms) AS n FROM $enc
       |  WHERE ${bestRankSql(model)} IS NULL
       |), ${p}_doc_tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, $pat)) AS tok
       |  FROM documents
       |), ${p}_doc AS (
       |  SELECT dt.doc_id, count(*) AS n_pretok, CAST(sum(w.n) AS BIGINT) AS n_bpe
       |  FROM ${p}_doc_tok dt JOIN ${p}_wc w USING (tok)
       |  GROUP BY dt.doc_id
       |)"""
  }

  def q112SqlFor(model: Bpe.Model): String =
    s"""WITH RECURSIVE ${bpeCtes(model)}
       |SELECT d.doc_id,
       |  coalesce(b.n_pretok, 0) AS n_pretok,
       |  coalesce(b.n_bpe, 0) AS n_bpe,
       |  (coalesce(b.n_bpe, 0) * 1000) // nullif(coalesce(b.n_pretok, 0), 0)
       |    AS bpe_per_mille
       |FROM documents d LEFT JOIN bpe_doc b USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** q54's mirror on REAL BPE token counts (same packing logic as the
    * retired heuristic version; `tokens` now comes from `bpe_doc`).
    */
  def q54SqlFor(model: Bpe.Model): String =
    s"""WITH RECURSIVE ${bpeCtes(model)},
       |t AS (
       |  SELECT d.doc_id,
       |    ${QueryBlocks.phSql("CAST(d.doc_id AS VARCHAR)")} % 8 AS bucket,
       |    coalesce(b.n_bpe, 0) AS tokens
       |  FROM documents d LEFT JOIN bpe_doc b USING (doc_id)
       |), c AS (
       |  SELECT doc_id, bucket, tokens,
       |    CAST(sum(tokens) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM t
       |)
       |SELECT doc_id, bucket, tokens, cum_tokens,
       |  (cum_tokens - tokens) // 2000 AS pack_id
       |FROM c ORDER BY bucket, doc_id""".stripMargin

  // --------------------------------------------------- q113/q114 (ANN)

  /** The q113/q114 candidate predicate — the "WHERE lang='en' AND
    * quality > t" of a production vector search, here a plain comparison
    * on the embeddings' label column so it reaches the parquet scan as a
    * pushed filter (PlanShapeSpec pins it). ~40% selective at every sf.
    */
  private val annPred = col("label") < 4
  private val annPredSql = "label < 4"

  /** q113: FILTERED approximate nearest neighbor — top-5 by cosine among
    * rows satisfying [[annPred]], probed through the SAME IVF index q38
    * uses (one index serves every predicate; the filter applies at probe
    * time, before any distance computation — the FAISS IDSelector shape).
    * Oracle: the q38 generated mirror with the predicate in the candidate
    * CTE ([[ExtensionQueries2.q38SqlFor]] with `candWhere`).
    */
  def q113_ann_filtered(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val m = ExtensionQueries2.ivfModel(s, dir)
    IvfIndex.ivfTopKFiltered(e, "vec_id", "embedding", col("vec_id") < 20, 5, m,
        nprobe = 4, candPred = annPred)
      .select(col("probe_id"), col("rank"), col("cand_id"), col("cos"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** q114: filtered-ANN quality certification (the q47 pattern) — recall@5
    * of q113's filtered probe vs the exact filtered brute force. DuckDB
    * recomputes the exact denominator and pins the verdict literal; a
    * filter placed wrongly (e.g. AFTER rank truncation, the classic
    * post-filtering bug, which returns < k rows and craters recall) or a
    * probe regression flips the boolean. Floor 0.40 = the q47 floor (the
    * predicate is independent of the geometry, so filtered recall tracks
    * unfiltered; measured 0.60 at sf0.01, 0.55 at sf0.001 — post-filtering
    * the q38 output instead measures 0.43/0.42, barely above the floor and
    * strictly dominated; FilteredAnnSpec pins the separation).
    */
  def q114_filtered_recall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val exact = Similarity.bruteForceTopKFiltered(e, "vec_id", "embedding",
        col("vec_id") < 20, 5, annPred)
      .select(col("probe_id"), col("cand_id"))
    val m = ExtensionQueries2.ivfModel(s, dir)
    val ivf = IvfIndex.ivfTopKFiltered(e, "vec_id", "embedding",
        col("vec_id") < 20, 5, m, nprobe = 4, candPred = annPred)
      .select(col("probe_id"), col("cand_id"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val hits = exact.join(ivf, Seq("probe_id", "cand_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    nExact.crossJoin(hits)
      .select(col("n_exact"),
        (col("__hits").cast("double") / col("n_exact") >= 0.40).as("filtered_recall_ok"))
  }

  val q114Sql: String = {
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings WHERE $annPredSql),
       |s AS (
       |  SELECT probe_id, cand_id,
       |    ${dotSql("pv", "cv")} / (sqrt(${dotSql("pv", "pv")}) * sqrt(${dotSql("cv", "cv")})) AS cos
       |  FROM p CROSS JOIN c WHERE probe_id <> cand_id
       |), topk AS (
       |  SELECT probe_id, cand_id,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM s QUALIFY rank <= 5
       |)
       |SELECT count(*) AS n_exact, true AS filtered_recall_ok FROM topk""".stripMargin
  }

  // ---------------------------------------------------------- registry

  /** A mirror generated from the dir's trained merge table (q112, q54). */
  private[queries] def bpeOracle(sqlFor: Bpe.Model => String): Oracle =
    Oracle.Model(d => trainedBpe(d).map(sqlFor))

  val entries: Seq[Query] = Seq(
    Query("q112_bpe_tokens", q112_bpe_tokens _, bpeOracle(q112SqlFor)),
    // q113's mirror replays q38's centroids (the shared index)
    Query("q113_ann_filtered", q113_ann_filtered _,
      ExtensionQueries2.ivfOracle(m => ExtensionQueries2.q38SqlFor(m, annPredSql))),
    Query("q114_filtered_recall", q114_filtered_recall _, q114Sql)
  )
}
