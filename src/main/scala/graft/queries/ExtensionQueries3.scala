package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Contamination, TextAnalysis}
import QueryBlocks.phSql

/** Training-data governance operators: benchmark decontamination and
  * Gopher-style repetition/quality filtering — the remaining first-class
  * ops a 100 TB pretraining pipeline runs besides dedup/similarity.
  */
object ExtensionQueries3 extends QueryGroup {

  /** q48: benchmark decontamination — corpus docs sharing 3-gram shingles
    * with the eval set (docs 0-9). Doctored leaks (eval docs minus their
    * last 3 tokens, id+100000) are unioned into the corpus; the overlap
    * join must flag each with high overlap_frac while organic near-misses
    * stay below the flag threshold. Eval shingle set is broadcast — the
    * corpus side never shuffles except the per-doc count.
    */
  def q48_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val toks = TextAnalysis.tokens(col("text"))
    val evalSet = d.filter(col("doc_id") < 10).select(col("doc_id"), col("text"))
    val leaked = evalSet.filter(size(toks) >= 6)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), size(toks) - 3)).as("text"))
    val corpus = d.filter(col("doc_id") >= 10)
      .select(col("doc_id"), col("text"))
      .union(leaked)
    Contamination.overlap(corpus, evalSet, "doc_id", col("text"), 3)
      .withColumn("contaminated", col("overlap_frac") >= 0.5)
      .select(col("id").as("doc_id"), col("n_shared"), col("n_shingles"),
        col("overlap_frac"), col("contaminated"))
      .orderBy(col("doc_id"))
  }

  val q48Sql: String = {
    val toks = "string_split(text, ' ')"
    def shingles(src: String) =
      s"""SELECT doc_id, list_distinct(list_transform(
         |    list_transform(range(1, len($toks) - 1),
         |      sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + 2), ' ')),
         |    sh_s -> ${phSql("sh_s")})) AS shs
         |  FROM $src WHERE len($toks) >= 3""".stripMargin
    s"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id < 10
       |), leaked AS (
       |  SELECT doc_id + 100000 AS doc_id,
       |    array_to_string(list_slice($toks, 1, len($toks) - 3), ' ') AS text
       |  FROM ev WHERE len($toks) >= 6
       |), corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id >= 10
       |  UNION ALL SELECT doc_id, text FROM leaked
       |), evsh AS (
       |  SELECT DISTINCT unnest(shs) AS sh FROM (${shingles("ev")})
       |), corp AS (
       |  ${shingles("corpus")}
       |), hits AS (
       |  SELECT doc_id, count(*) AS n_shared
       |  FROM (SELECT doc_id, unnest(shs) AS sh FROM corp) cs
       |  JOIN evsh USING (sh) GROUP BY doc_id
       |)
       |SELECT corp.doc_id, n_shared, CAST(len(shs) AS BIGINT) AS n_shingles,
       |  CAST(n_shared AS DOUBLE) / len(shs) AS overlap_frac,
       |  CAST(n_shared AS DOUBLE) / len(shs) >= 0.5 AS contaminated
       |FROM hits JOIN corp ON hits.doc_id = corp.doc_id
       |ORDER BY corp.doc_id""".stripMargin
  }

  /** q49: Gopher-style repetition/quality signals per document — duplicate
    * 2-/3-gram fractions (shingle-hash pass), max token length, digit and
    * symbol character fractions, and the composite keep-flag. Pure per-row
    * expressions; every fraction is a ratio of exact integers.
    */
  def q49_repetition_quality(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    TextAnalysis.withRepetitionColumns(d, col("text"))
      .select((col("doc_id") +: TextAnalysis.RepetitionColumnNames.map(col)): _*)
      .orderBy(col("doc_id"))
  }

  val q49Sql: String = {
    val toks = "string_split(text, ' ')"
    def dupFrac(k: Int): String = {
      val hs = s"list_transform(list_transform(range(1, len($toks) - ${k - 2}), " +
        s"sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + ${k - 1}), ' ')), " +
        s"sh_s -> ${phSql("sh_s")})"
      s"CASE WHEN len($toks) - ${k - 1} > 0 THEN " +
        s"CAST(len($hs) - len(list_distinct($hs)) AS DOUBLE) / len($hs) END"
    }
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    ${dupFrac(2)} AS dup2_frac,
       |    ${dupFrac(3)} AS dup3_frac,
       |    CAST(list_max(list_transform($toks, mt_t -> length(mt_t))) AS BIGINT) AS max_token_len,
       |    CASE WHEN length(text) > 0 THEN
       |      CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END AS digit_frac,
       |    CASE WHEN length(text) > 0 THEN
       |      CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END AS symbol_frac
       |  FROM documents
       |)
       |SELECT doc_id, n_tokens, dup2_frac, dup3_frac, max_token_len, digit_frac, symbol_frac,
       |  (n_tokens BETWEEN 2 AND 100000) AND coalesce(dup2_frac <= 0.4, true)
       |    AND coalesce(dup3_frac <= 0.3, true) AND max_token_len <= 30
       |    AND coalesce(symbol_frac <= 0.1, false) AS gopher_keep
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** q50: vocabulary construction — corpus term statistics (total term
    * frequency + document frequency), top-500 by frequency with pinned
    * ties. The classic wordcount shape at 100 TB: explode → partial-agg
    * combine → one shuffle on the term key; df via distinct-agg expand;
    * top-k via sort+limit (TakeOrderedAndProject), then the bounded rank.
    */
  def q50_vocab(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val terms = d.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
    val stats = terms.groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term")).limit(500)
    val w = graft.ops.Ranks.bounded(col("term"), col("tf").desc, col("term"))
    stats.withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("term"), col("tf"), col("df"))
      .orderBy(col("rank"))
  }

  val q50Sql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), stats AS (
      |  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
      |  FROM terms WHERE length(term) > 0 GROUP BY term
      |)
      |SELECT CAST(row_number() OVER (ORDER BY tf DESC, term) AS INT) AS rank,
      |  term, tf, df
      |FROM stats
      |QUALIFY rank <= 500
      |ORDER BY rank""".stripMargin

  /** q53: deterministic train/valid/test split + shard assignment — dataset
    * publication's partitioning step. Assignment is pure hash arithmetic
    * (polyhash of the id with a salt per decision), so it is reproducible
    * on any engine, any partitioning, any run — no RNG, no sampling
    * nondeterminism. Emits the (split, shard) histogram with token totals.
    */
  def q53_split_shards(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val hSplit = TextAnalysis.polyHash(concat(col("doc_id").cast("string"), lit(":split")))
    val split = when(pmod(hSplit, lit(100)) < 90, "train")
      .when(pmod(hSplit, lit(100)) < 95, "valid").otherwise("test")
    val shard = pmod(TextAnalysis.polyHash(concat(col("doc_id").cast("string"), lit(":shard"))), lit(8))
    d.select(split.as("split"), shard.as("shard"),
        TextAnalysis.approxBpeCount(col("text")).as("tokens"))
      .groupBy(col("split"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("total_tokens"))
      .orderBy(col("split"), col("shard"))
  }

  val q53Sql: String = {
    def ph(e: String) = phSql(e)
    s"""WITH t AS (
       |  SELECT
       |    CASE WHEN ${ph("CAST(doc_id AS VARCHAR) || ':split'")} % 100 < 90 THEN 'train'
       |         WHEN ${ph("CAST(doc_id AS VARCHAR) || ':split'")} % 100 < 95 THEN 'valid'
       |         ELSE 'test' END AS split,
       |    ${ph("CAST(doc_id AS VARCHAR) || ':shard'")} % 8 AS shard,
       |    CAST((length(text) + 3) // 4 AS BIGINT) AS tokens
       |  FROM documents
       |)
       |SELECT split, shard, count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS total_tokens
       |FROM t GROUP BY split, shard ORDER BY split, shard""".stripMargin
  }

  /** q54: token-budget packing — assign documents to fixed-token-budget
    * packs for training shards. Scale shape: documents hash into buckets
    * (one per shard-writer), and the running token total is a WINDOWED sum
    * PARTITIONED by bucket — state never crosses buckets, so the cumsum
    * parallelizes instead of becoming a global single-partition scan.
    * pack_id = floor(tokens-before / budget): concat-then-chunk semantics.
    * Budgets count REAL BPE tokens: the corpus-trained merge
    * table ([[ExtensionQueries10.bpeModel]]) replaces the ceil(chars/4)
    * heuristic, so packs line up with what a tokenizer-faithful loader
    * would see; the mirror is the generated
    * [[ExtensionQueries10.q54SqlFor]].
    */
  def q54_token_packing(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
    val bucket = pmod(TextAnalysis.polyHash(col("doc_id").cast("string")), lit(8))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.select(col("doc_id"), bucket.as("bucket"),
        graft.ext.Bpe.tokenCount(col("text"),
          ExtensionQueries10.bpeModel(s, dir)).as("tokens"))
      .withColumn("cum_tokens", sum(col("tokens")).over(w))
      .withColumn("pack_id", expr("(cum_tokens - tokens) div 2000"))
      .orderBy(col("bucket"), col("doc_id"))
  }

  /** q55: dataset card — the corpus-level summary a training-data pipeline
    * publishes alongside the data: per-language doc/token counts, exact-dup
    * rate (fingerprint groups), quality pass rate, mean quality signals.
    * One scan + one narrow groupBy on lang; the dup rate reuses the
    * polyhash fingerprint (8-byte key) via a distinct-agg, not a self-join.
    */
  def q55_dataset_card(s: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.withRepetitionColumns(Tables.documents(s, dir), col("text"))
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
    d.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("gopher_keep"), 1L).otherwise(0L)).as("n_keep"),
        avg(col("n_tokens").cast("double")).as("mean_tokens"))
      .withColumn("dup_rate",
        (col("n_docs") - col("n_unique")).cast("double") / col("n_docs"))
      .withColumn("keep_rate", col("n_keep").cast("double") / col("n_docs"))
      .orderBy(col("lang"))
  }

  val q55Sql: String = {
    val toks = "string_split(text, ' ')"
    def dupFrac(k: Int): String = {
      val hs = s"list_transform(list_transform(range(1, len($toks) - ${k - 2}), " +
        s"sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + ${k - 1}), ' ')), " +
        s"sh_s -> ${phSql("sh_s")})"
      s"CASE WHEN len($toks) - ${k - 1} > 0 THEN " +
        s"CAST(len($hs) - len(list_distinct($hs)) AS DOUBLE) / len($hs) END"
    }
    s"""WITH t AS (
       |  SELECT lang, ${phSql("text")} AS fp,
       |    CAST(len($toks) AS BIGINT) AS n_tokens,
       |    (CAST(len($toks) AS BIGINT) BETWEEN 2 AND 100000)
       |      AND coalesce(${dupFrac(2)} <= 0.4, true)
       |      AND coalesce(${dupFrac(3)} <= 0.3, true)
       |      AND CAST(list_max(list_transform($toks, mt_t -> length(mt_t))) AS BIGINT) <= 30
       |      AND coalesce(CASE WHEN length(text) > 0 THEN
       |            CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)
       |          END <= 0.1, false) AS keep
       |  FROM documents
       |), g AS (
       |  SELECT lang, count(*) AS n_docs, count(DISTINCT fp) AS n_unique,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |    avg(CAST(n_tokens AS DOUBLE)) AS mean_tokens
       |  FROM t GROUP BY lang
       |)
       |SELECT lang, n_docs, n_unique, total_tokens, n_keep, mean_tokens,
       |  CAST(n_docs - n_unique AS DOUBLE) / n_docs AS dup_rate,
       |  CAST(n_keep AS DOUBLE) / n_docs AS keep_rate
       |FROM g ORDER BY lang""".stripMargin
  }

  val entries: Seq[Query] = Seq(
    Query("q55_dataset_card", q55_dataset_card _, q55Sql),
    Query("q48_decontaminate", q48_decontaminate _, q48Sql),
    Query("q49_repetition_quality", q49_repetition_quality _, q49Sql),
    Query("q50_vocab", q50_vocab _, q50Sql),
    Query("q53_split_shards", q53_split_shards _, q53Sql),
    Query("q54_token_packing", q54_token_packing _,
      ExtensionQueries10.bpeOracle(ExtensionQueries10.q54SqlFor))
  )
}
