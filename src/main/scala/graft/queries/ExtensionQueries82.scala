package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{Dedup, TextAnalysis}

/** Dedup tuning and reproducible-release ops.
  *
  *  - q338 dedup threshold sweep: the tuning table for the near-dup
  *    threshold decision — pair counts and affected-doc counts at
  *    Jaccard ≥ 0.5/0.6/0.7/0.8, all four thresholds priced from ONE
  *    candidate-pair pass (the pairs are computed once; thresholds are
  *    conditional sums over exact cross-multiplied integer compares —
  *    never four scans, never a float threshold).
  *  - q339 release manifest: the reproducibility artifact shipped next
  *    to a dataset release — per (split, shard): doc counts, token
  *    totals, and an md5 fingerprint of the ORDERED member id list, so
  *    a consumer can verify a downloaded shard byte-for-byte against
  *    the manifest (the q335 fingerprint discipline applied to release
  *    engineering).
  *  - q340 token budget projection: the mixture PLAN — q326's T=2
  *    temperature shares joined to q321's per-language document token
  *    averages, projecting a 10⁹-token budget into per-language token
  *    and document allocations (exact integer arithmetic end to end;
  *    two ≤|langs|-row frames compose, nothing rescans the corpus
  *    beyond the two rollups).
  */
object ExtensionQueries82 extends QueryGroup {

  // --------------------------------------------------------------- q338

  /** q338: near-dup pair/doc counts per candidate threshold — pairs
    * from the q26 inverted-index machinery (hot-shingle cap 1000),
    * thresholds applied as `inter·10 ≥ t₁₀·(na+nb−inter)`.
    */
  def q338_dedup_threshold_sweep(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id",
      col("text"), 3)
    val lv = pairs.select(col("id_a"), col("id_b"), col("inter"),
        col("na"), col("nb"),
        explode(array(lit(5L), lit(6L), lit(7L), lit(8L))).as("t10"))
      .filter(col("inter") * 10 >= col("t10") * (col("na") + col("nb") - col("inter")))
    val perT = lv.groupBy(col("t10")).agg(count(lit(1)).as("n_pairs"))
    val docs = lv.select(col("t10"), explode(array(col("id_a"), col("id_b")))
        .as("id"))
      .groupBy(col("t10"))
      .agg(countDistinct(col("id")).as("n_docs_affected"))
    // anchor on the explicit threshold frame so an empty threshold still
    // emits its zero row (the mirror's LEFT JOIN shape)
    s.range(5, 9).select(col("id").as("t10"))
      .join(perT, Seq("t10"), "left")
      .join(docs, Seq("t10"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs_affected"))
      .select(col("t10"), col("n_pairs"), col("n_docs_affected"))
      .orderBy(col("t10"))
  }

  val q338Sql: String =
    s"""WITH sh AS (
       |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
       |    list_transform(range(1, len(string_split(text,' ')) - 1),
       |      sh_i -> array_to_string(list_slice(string_split(text,' '), sh_i, sh_i + 2), ' ')),
       |    sh_s -> ${QueryBlocks.phSql("sh_s")}))) AS sh
       |  FROM documents WHERE len(string_split(text,' ')) >= 3
       |), sizes AS (
       |  SELECT id, count(*) AS nsh FROM sh GROUP BY id
       |), hot AS (
       |  SELECT sh FROM sh GROUP BY sh HAVING count(*) > 1000
       |), shc AS (
       |  SELECT id, sh.sh FROM sh LEFT JOIN hot ON sh.sh = hot.sh WHERE hot.sh IS NULL
       |), pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2
       |), pj AS (
       |  SELECT id_a, id_b, inter, na.nsh AS na, nb.nsh AS nb
       |  FROM pairs JOIN sizes na ON id_a = na.id JOIN sizes nb ON id_b = nb.id
       |), lv AS (
       |  SELECT id_a, id_b, t10 FROM pj, (SELECT unnest([5, 6, 7, 8]) AS t10)
       |  WHERE inter * 10 >= t10 * (na + nb - inter)
       |), pt AS (
       |  SELECT t10, count(*) AS n_pairs FROM lv GROUP BY t10
       |), dt AS (
       |  SELECT t10, count(DISTINCT id) AS n_docs_affected FROM (
       |    SELECT t10, id_a AS id FROM lv UNION ALL SELECT t10, id_b FROM lv
       |  ) GROUP BY t10
       |)
       |SELECT CAST(t.t10 AS BIGINT) AS t10,
       |  coalesce(pt.n_pairs, 0) AS n_pairs,
       |  coalesce(dt.n_docs_affected, 0) AS n_docs_affected
       |FROM (SELECT unnest([5, 6, 7, 8]) AS t10) t
       |LEFT JOIN pt ON t.t10 = pt.t10 LEFT JOIN dt ON t.t10 = dt.t10
       |ORDER BY t10""".stripMargin

  // --------------------------------------------------------------- q339

  /** q339: release manifest per (split, shard) — the q53 deterministic
    * assignment, with an md5 fingerprint of the comma-joined ORDERED
    * member doc_ids (a downloaded shard re-derives and compares).
    */
  def q339_release_manifest(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val hSplit = TextAnalysis.polyHash(concat(col("doc_id").cast("string"), lit(":split")))
    val split = when(pmod(hSplit, lit(100)) < 90, "train")
      .when(pmod(hSplit, lit(100)) < 95, "valid").otherwise("test")
    val shard = pmod(TextAnalysis.polyHash(concat(col("doc_id").cast("string"), lit(":shard"))), lit(8))
    d.select(split.as("split"), shard.as("shard"), col("doc_id"),
        TextAnalysis.approxBpeCount(col("text")).as("tokens"))
      .groupBy(col("split"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("total_tokens"),
        md5(expr("array_join(transform(sort_array(collect_list(doc_id)), " +
          "i -> CAST(i AS STRING)), ',')")).as("ids_md5"))
      .orderBy(col("split"), col("shard"))
  }

  val q339Sql: String = {
    def ph(e: String) = QueryBlocks.phSql(e)
    s"""WITH t AS (
       |  SELECT
       |    CASE WHEN ${ph("CAST(doc_id AS VARCHAR) || ':split'")} % 100 < 90 THEN 'train'
       |         WHEN ${ph("CAST(doc_id AS VARCHAR) || ':split'")} % 100 < 95 THEN 'valid'
       |         ELSE 'test' END AS split,
       |    ${ph("CAST(doc_id AS VARCHAR) || ':shard'")} % 8 AS shard,
       |    doc_id,
       |    CAST((length(text) + 3) // 4 AS BIGINT) AS tokens
       |  FROM documents
       |)
       |SELECT split, shard, count(*) AS n_docs,
       |  CAST(sum(tokens) AS BIGINT) AS total_tokens,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5
       |FROM t GROUP BY split, shard ORDER BY split, shard""".stripMargin
  }

  // --------------------------------------------------------------- q340

  /** q340: the 10⁹-token mixture plan — per language: temperature
    * share (q326's √n weights over document counts), its token
    * allocation out of the budget, and the document count that
    * allocation buys at the language's average regex-tokens per doc
    * (q321's fertility rollup). Truncating integer division end to
    * end; Σ token allocations ≤ budget by construction.
    */
  def q340_token_budget_projection(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000000000L
    val base = Tables.documents(s, dir)
      .select(col("lang"),
        TextAnalysis.regexTokenCount(col("text")).cast("long").as("n_rx"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_rx")).as("rx_tokens"))
      .withColumn("w", floor(sqrt(col("n_docs") * 1000000L)).cast("long"))
    val tot = base.agg(sum(col("w")).as("w_total"))
    base.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        expr("w * 1000000L div w_total").as("temp_ppm"),
        expr(s"(w * 1000000L div w_total) * ${budget}L div 1000000L")
          .as("token_alloc"),
        expr("rx_tokens div n_docs").as("avg_tokens_per_doc"))
      .withColumn("doc_alloc", expr("token_alloc div avg_tokens_per_doc"))
      .orderBy(col("lang"))
  }

  val q340Sql: String =
    """WITH base AS (
      |  SELECT lang, count(*) AS n_docs,
      |    CAST(sum(len(regexp_extract_all(text,
      |      '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')))
      |      AS BIGINT) AS rx_tokens,
      |    CAST(floor(sqrt(CAST(count(*) * 1000000 AS DOUBLE))) AS BIGINT) AS w
      |  FROM documents GROUP BY lang
      |), t AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM base)
      |SELECT lang, n_docs,
      |  CAST(w * 1000000 // w_total AS BIGINT) AS temp_ppm,
      |  CAST((w * 1000000 // w_total) * 1000000000 // 1000000 AS BIGINT)
      |    AS token_alloc,
      |  CAST(rx_tokens // n_docs AS BIGINT) AS avg_tokens_per_doc,
      |  CAST(((w * 1000000 // w_total) * 1000000000 // 1000000)
      |    // (rx_tokens // n_docs) AS BIGINT) AS doc_alloc
      |FROM base, t ORDER BY lang""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q338_dedup_threshold_sweep", q338_dedup_threshold_sweep _, q338Sql),
    Query("q339_release_manifest", q339_release_manifest _, q339Sql),
    Query("q340_token_budget_projection", q340_token_budget_projection _, q340Sql)
  )
}
