package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import QueryBlocks.{dotSql, dotSqlDoubles, phSql}

/** LLM-training-data pipeline operators (BASELINE.json north star): text
  * analysis, dedup family, similarity search, multimodal plumbing — over
  * the documents/embeddings corpora. Every query here carries a bit-exact
  * DuckDB oracle mirroring the exact integer/fold arithmetic (nested list
  * lambdas) — including the full 64-component MinHash signature + banded
  * LSH path (q29) and the hyperplane-LCG ANN path (q31), whose SQL is
  * generated programmatically.
  */
object ExtensionQueries extends QueryGroup {

  /** q22: per-document text statistics + quality score (SURVEY north-star
    * text analysis). All signals integer-derived → deterministic doubles.
    */
  def q22_text_stats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val cols = TextAnalysis.qualityColumns(col("text")).map { case (n, c) => c.as(n) }
    d.select(col("doc_id") +: TextAnalysis.approxBpeCount(col("text")).as("bpe_est") +: cols: _*)
      .orderBy(col("doc_id"))
  }

  val q22Sql: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks, length(text) AS chars
      |  FROM documents
      |), c AS (
      |  SELECT doc_id,
      |    CAST((chars + 3) // 4 AS BIGINT) AS bpe_est,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
      |    CAST(chars - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_token_len,
      |    CAST(len(list_filter(toks, tk -> tk IN ('the','a','of','and','to'))) AS DOUBLE)
      |      / len(toks) AS stopword_ratio,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio
      |  FROM t
      |)
      |SELECT doc_id, bpe_est, n_tokens, n_uniq, mean_token_len, stopword_ratio, uniq_ratio,
      |  (uniq_ratio * 0.5 + (1.0 - stopword_ratio) * 0.3
      |    + least(mean_token_len / 8.0, 1.0) * 0.2) AS quality
      |FROM c ORDER BY doc_id""".stripMargin

  /** q23: heuristic language ID (marker-token argmax, deterministic ties)
    * vs. the labeled lang — confusion counts.
    */
  def q23_lang_id(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.select(col("lang"), TextAnalysis.langId(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  val q23Sql: String = {
    val lists = TextAnalysis.LangMarkers.map { case (l, ms) =>
      l -> ms.map(m => s"'$m'").mkString("(", ",", ")")
    }
    val scores = lists.map { case (l, inList) =>
      s"len(list_filter(string_split(text, ' '), tk -> tk IN $inList)) AS s_$l"
    }.mkString(", ")
    """WITH sc AS (SELECT lang, SCORES FROM documents)
      |SELECT lang,
      |  CASE WHEN s_en=0 AND s_de=0 AND s_es=0 AND s_fr=0 AND s_zh=0 THEN 'und'
      |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |       WHEN s_fr >= s_zh THEN 'fr'
      |       ELSE 'zh' END AS predicted,
      |  count(*) AS n
      |FROM sc GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin
      .replace("SCORES", scores)
  }

  /** q24: document fingerprints — rolling polyhash of the full text and of
    * a 64-char prefix (cheap near-head dedup key).
    */
  def q24_fingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.polyHash(substring(col("text"), 1, 64)).as("fp_prefix"))
      .orderBy(col("doc_id"))
  }

  val q24Sql: String =
    s"""SELECT doc_id,
       |  ${phSql("text")} AS fp,
       |  ${phSql("substring(text, 1, 64)")} AS fp_prefix
       |FROM documents ORDER BY doc_id""".stripMargin

  /** q25: exact dedup via hash-groupBy, on the full text (md5) and on a
    * 3-token prefix key (collision-prone by construction) — kept id = min.
    */
  def q25_dedup_exact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val full = Dedup.exactGroups(d, "doc_id", md5(col("text")))
      .select(lit("full").as("op"), col("dup_key"), col("kept_id"), col("n_dups"))
    val prefix = Dedup.exactGroups(
      d, "doc_id", md5(concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 3))))
      .select(lit("prefix3").as("op"), col("dup_key"), col("kept_id"), col("n_dups"))
    full.union(prefix).orderBy(col("op"), col("dup_key"))
  }

  val q25Sql: String =
    """SELECT 'full' AS op, md5(text) AS dup_key,
      |  CAST(min(doc_id) AS BIGINT) AS kept_id, count(*) AS n_dups
      |FROM documents GROUP BY 2
      |UNION ALL
      |SELECT 'prefix3', md5(array_to_string(list_slice(string_split(text,' '), 1, 3), ' ')),
      |  CAST(min(doc_id) AS BIGINT), count(*)
      |FROM documents GROUP BY 2
      |ORDER BY op, dup_key""".stripMargin

  /** q26: n-gram Jaccard near-dup pairs through the inverted shingle index;
    * top-50 most similar pairs, deterministic ordering. 100 TB note: the
    * top-50 is taken with sort+limit (TakeOrderedAndProject — per-partition
    * top-k, tiny merge) and the rank window then runs over only the 50
    * survivors; a global row_number window here would funnel EVERY candidate
    * pair through one task.
    *
    * REGIME BOUND (10×-rung kc≈0.90-0.91): every document must
    * be shingled — Ω(total text bytes) map work before the index exists —
    * and the hot-shingle frequency cap (Dedup.jaccardPairs) keeps the
    * candidate join sub-quadratic, so the surviving term is the per-row
    * shingle explosion + hash, embarrassingly parallel. kc climbing
    * toward 1.0 at bigger rungs is that per-byte floor, not candidate
    * blowup (the capped posting lists bound pairs per shingle by a
    * constant; candidate growth is audited the q109 way via SetSimAudit
    * for the uncapped PPJoin family).
    */
  def q26_jaccard_pairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val pairs = Dedup.jaccardPairs(d, "doc_id", col("text"), 3)
    val top = pairs.orderBy(col("jaccard").desc, col("id_a"), col("id_b")).limit(50)
    val w = graft.ops.Ranks.bounded(col("id_a"),
      col("jaccard").desc, col("id_a"), col("id_b"))
    top.withColumn("rnk", row_number().over(w).cast("int"))
      .select(col("rnk"), col("id_a"), col("id_b"), col("inter"), col("na"), col("nb"), col("jaccard"))
      .orderBy(col("rnk"))
  }

  val q26Sql: String =
    s"""WITH sh AS (
      |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
      |    list_transform(range(1, len(string_split(text,' ')) - 1),
      |      sh_i -> array_to_string(list_slice(string_split(text,' '), sh_i, sh_i + 2), ' ')),
      |    sh_s -> ${phSql("sh_s")}))) AS sh
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
      |)
      |SELECT CAST(row_number() OVER (ORDER BY CAST(inter AS DOUBLE)/(na.nsh + nb.nsh - inter) DESC,
      |         id_a, id_b) AS INT) AS rnk,
      |  id_a, id_b, inter, na.nsh AS na, nb.nsh AS nb,
      |  CAST(inter AS DOUBLE)/(na.nsh + nb.nsh - inter) AS jaccard
      |FROM pairs
      |JOIN sizes na ON id_a = na.id
      |JOIN sizes nb ON id_b = nb.id
      |QUALIFY rnk <= 50
      |ORDER BY rnk""".stripMargin

  /** q27: MinHash signature head (first 4 of 64 affine-rehashed shingle-hash
    * minima) — the signature arithmetic itself oracle-checked; banded-LSH
    * pair generation is pinned in DedupSpec.
    */
  def q27_minhash(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .filter(size(TextAnalysis.tokens(col("text"))) >= 3)
    // bind the shingle-hash array ONCE per row, then derive each signature
    // component straight off the bound column — one array scan per component
    // (an intermediate sig array gets re-derived per element_at)
    def sigI(i: Int) = array_min(transform(col("hashes"), h => Dedup.affine(lit(i), h)))
    d.withColumn("hashes", Dedup.shingleHashes(col("text"), 3))
      .select(col("doc_id"),
        sigI(0).as("sig0"), sigI(1).as("sig1"), sigI(2).as("sig2"), sigI(3).as("sig3"))
      .orderBy(col("doc_id"))
  }

  val q27Sql: String = {
    val hs = "list_transform(shs, mh_s -> " + phSql("mh_s") + ")"
    def sigI(i: Int): String = {
      val a = ((2L * i + 1) * 2654435761L) % 1000000007L
      val b = 40503L * i + 1
      s"list_min(list_transform($hs, mh_h -> (mh_h * $a + $b) % 1000000007)) AS sig$i"
    }
    s"""WITH t AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(string_split(text,' ')) - 1),
       |    sh_i -> array_to_string(list_slice(string_split(text,' '), sh_i, sh_i + 2), ' '))) AS shs
       |  FROM documents WHERE len(string_split(text,' ')) >= 3
       |)
       |SELECT doc_id, ${sigI(0)}, ${sigI(1)}, ${sigI(2)}, ${sigI(3)}
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** q28: SimHash-48 per document + hamming distance to the corpus's
    * doc_id=0 hash (broadcast scalar) — near-dup bit-sketch family.
    */
  def q28_simhash(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val withSh = d.withColumn("hs", Dedup.tokenHashes48(col("text")))
      .select(col("doc_id"), Dedup.simhashFromHashes(col("hs")).as("simhash"))
    val ref = withSh.filter(col("doc_id") === 0).select(col("simhash").as("ref_hash"))
    withSh.crossJoin(broadcast(ref))
      .select(col("doc_id"), col("simhash"), Dedup.hamming(col("simhash"), col("ref_hash")).as("dist0"))
      .orderBy(col("doc_id"))
  }

  val q28Sql: String = {
    val h48 = "list_transform(list_transform(string_split(text,' '), sh_t -> " + phSql("sh_t") + "), " +
      "h1 -> (h1 % 16777216) + (((h1 * 48271 + 11) % 1000000007) % 16777216) * 16777216)"
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, 48), bit_j ->
       |      CASE WHEN list_sum(list_transform($h48, hh ->
       |             CASE WHEN (hh & (CAST(1 AS BIGINT) << bit_j)) <> 0 THEN 1 ELSE -1 END)) > 0
       |           THEN (CAST(1 AS BIGINT) << bit_j) ELSE 0 END)) AS BIGINT) AS simhash
       |  FROM documents
       |), r AS (SELECT simhash AS ref_hash FROM t WHERE doc_id = 0)
       |SELECT doc_id, simhash, CAST(bit_count(xor(simhash, ref_hash)) AS INT) AS dist0
       |FROM t, r ORDER BY doc_id""".stripMargin
  }

  /** q29: end-to-end MinHash+LSH near-dup detection. Doctored near-copies
    * (last 5 tokens dropped) are unioned in; banded LSH must surface each
    * (original, copy) pair. Fully oracle-checked: the 64-component affine
    * signature, the 16-band order-sensitive key folds, the bucket self-join
    * and the est-Jaccard filter are all mirrored in DuckDB (generated SQL —
    * every step is exact integer arithmetic, so the mirror is bit-exact).
    */
  def q29_minhash_lsh_pairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
      .filter(size(TextAnalysis.tokens(col("text"))) >= 8)
    val toks = TextAnalysis.tokens(col("text"))
    val doctored = d.select((col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 5, lit(3)))).as("text"))
    val all = d.union(doctored)
    // bind shingle hashes once per row, then the 64-component signature;
    // persist because the frame is consumed 3× (banding + both est sides)
    val withSig = all.withColumn("hashes", Dedup.shingleHashes(col("text"), 3))
      .select(col("doc_id"), Dedup.minhashFromHashes(col("hashes"), 64).as("sig"))
      .transform(graft.core.CacheScope.scoped)
    val cands = Dedup.lshCandidates(withSig, "doc_id", col("sig"), 16)
    val sa = withSig.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val sb = withSig.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
    cands.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), Dedup.estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.4)
      .orderBy(col("id_a"), col("id_b"))
  }

  val q29Sql: String = {
    val toks = "string_split(text, ' ')"
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id < 100 AND len($toks) >= 8
       |), allv AS (
       |  SELECT doc_id, text FROM d
       |  UNION ALL
       |  SELECT doc_id + 100000,
       |    array_to_string(list_slice($toks, 1, greatest(len($toks) - 5, 3)), ' ')
       |  FROM d
       |), hs AS (
       |  SELECT doc_id, list_transform(
       |    list_transform(range(1, len($toks) - 1),
       |      sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + 2), ' ')),
       |    sh_s -> ${phSql("sh_s")}) AS hashes
       |  FROM allv
       |), sg AS (
       |  SELECT doc_id, list_transform(range(0, 64), mh_i ->
       |    list_min(list_transform(hashes, mh_h ->
       |      (mh_h * (((2*mh_i + 1) * 2654435761) % 1000000007) + (40503*mh_i + 1)) % 1000000007))) AS sig
       |  FROM hs
       |), bands AS (SELECT unnest(range(0, 16)) AS band
       |), banded AS (
       |  SELECT doc_id, band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, band*4 + 1, band*4 + 4)),
       |      (bk_a, bk_x) -> (bk_a*31 + bk_x) % 1000000007) AS band_key
       |  FROM sg CROSS JOIN bands
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |), est AS (
       |  SELECT id_a, id_b,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      eq_i -> CASE WHEN sa.sig[eq_i] = sb.sig[eq_i] THEN 1 ELSE 0 END)) AS DOUBLE) / 64
       |      AS est_jaccard
       |  FROM cand JOIN sg sa ON id_a = sa.doc_id JOIN sg sb ON id_b = sb.doc_id
       |)
       |SELECT id_a, id_b, est_jaccard FROM est
       |WHERE est_jaccard >= 0.4 ORDER BY id_a, id_b""".stripMargin
  }

  /** q30: brute-force cosine top-5 neighbors for 50 probe vectors — the
    * exact ANN baseline; dot products are in-order double folds, mirrored
    * fold-for-fold in the oracle.
    */
  def q30_cosine_topk(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(e, "vec_id", "embedding", col("vec_id") < 50, 5)
      .select(col("probe_id"), col("rank"), col("cand_id"), col("cos"))
      .orderBy(col("probe_id"), col("rank"))
  }

  val q30Sql: String = {
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 50),
       |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
       |s AS (
       |  SELECT probe_id, cand_id,
       |    ${dotSql("pv", "cv")} / (sqrt(${dotSql("pv", "pv")}) * sqrt(${dotSql("cv", "cv")})) AS cos
       |  FROM p CROSS JOIN c WHERE probe_id <> cand_id
       |)
       |SELECT probe_id,
       |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS INT) AS rank,
       |  cand_id, cos
       |FROM s
       |QUALIFY rank <= 5
       |ORDER BY probe_id, rank""".stripMargin
  }

  /** q31: LSH-bucketed approximate top-k (the scale path — candidates share
    * a hyperplane-sign bucket in any of 4 tables). Fully oracle-checked: the
    * hyperplanes are integer-LCG-derived exact rationals and the projections
    * are in-order double folds, so the bucket assignment, multi-table
    * candidate union, and cosine ranking all mirror bit-exactly in DuckDB
    * (generated SQL). Recall vs. q30's exact answer additionally pinned in
    * SimilaritySpec.
    */
  def q31_ann_lsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.lshTopK(e, "vec_id", "embedding", col("vec_id") < 20, 5, 6, tables = 4)
      .select(col("probe_id"), col("rank"), col("cand_id"), col("cos"))
      .orderBy(col("probe_id"), col("rank"))
  }

  val q31Sql: String = {
    val nBits = 6
    val tables = 4
    // hyperplane(jj, i): LCG of (jj*4099 + i*131 + 7), scaled to an exact
    // rational in [-1, 1] — mirrors Similarity.hyperplaneAt literally
    def hp(jj: Int, i: String): String =
      s"(CAST(((($jj*4099 + ($i)*131 + 7) * 1103515245 + 12345) % 2147483647) % 2001 - 1000 AS DOUBLE) / 1000.0)"
    // in-order projection fold of vec onto hyperplane (t, j)
    def proj(t: Int, j: Int): String = {
      val jj = j + t * 1000
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, len(vec)+1), pr_i -> vec[pr_i] * ${hp(jj, "pr_i - 1")})), " +
        s"(pj_a, pj_b) -> pj_a + pj_b)"
    }
    // bucket(t) = dotSqlDoubles(acc*2 + bit) over j = Σ bit_j · 2^(nBits-1-j)
    def bucket(t: Int): String =
      (0 until nBits).map { j =>
        s"(CASE WHEN ${proj(t, j)} > 0 THEN ${1L << (nBits - 1 - j)} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    val bucketCols = (0 until tables).map(t => s"${bucket(t)} AS bkt$t").mkString(",\n    ")
    val peArms = (0 until tables).map(t =>
      s"SELECT vec_id, vec, $t AS tbl, bkt$t AS bucket FROM bk").mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(range(1, len(embedding)+1),
       |    cv_i -> CAST(embedding[cv_i] AS DOUBLE)) AS vec
       |  FROM embeddings
       |), bk AS (
       |  SELECT vec_id, vec,
       |    $bucketCols
       |  FROM e
       |), pe AS (
       |  $peArms
       |), hits AS (
       |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |    ${dotSqlDoubles("p.vec", "c.vec")} / (sqrt(${dotSqlDoubles("p.vec", "p.vec")}) * sqrt(${dotSqlDoubles("c.vec", "c.vec")})) AS cos
       |  FROM pe p JOIN pe c ON p.tbl = c.tbl AND p.bucket = c.bucket
       |  WHERE p.vec_id < 20 AND p.vec_id <> c.vec_id
       |)
       |SELECT probe_id,
       |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS INT) AS rank,
       |  cand_id, cos
       |FROM hits
       |QUALIFY rank <= 5
       |ORDER BY probe_id, rank""".stripMargin
  }

  /** q32: multimodal plumbing end-to-end — documents → binary payload
    * Dataset[MediaRecord] → partition-wise (stub) decode →
    * Dataset[MediaFeatures]. The oracle mirrors the stub's integer feature
    * derivation, so the whole typed mapPartitions path is value-checked.
    */
  def q32_media_features(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
    Multimodal.decodeFeatures(media).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"), col("width"),
        col("height"), col("duration_ms"), col("checksum"))
      .orderBy(col("media_id"))
  }

  val q32Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id AS media_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |    ${phSql("text")} AS h
       |  FROM documents
       |)
       |SELECT media_id, kind, n_bytes,
       |  CAST(h % 640 + 1 AS INT) AS width,
       |  CAST((h // 640) % 480 + 1 AS INT) AS height,
       |  CASE WHEN kind = 'audio' THEN h % 300000 ELSE 0 END AS duration_ms,
       |  h AS checksum
       |FROM t ORDER BY media_id""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q22_text_stats", q22_text_stats _, q22Sql),
    Query("q23_lang_id", q23_lang_id _, q23Sql),
    Query("q24_fingerprint", q24_fingerprint _, q24Sql),
    Query("q25_dedup_exact", q25_dedup_exact _, q25Sql),
    Query("q26_jaccard_pairs", q26_jaccard_pairs _, q26Sql),
    Query("q27_minhash", q27_minhash _, q27Sql),
    Query("q28_simhash", q28_simhash _, q28Sql),
    Query("q29_minhash_lsh_pairs", q29_minhash_lsh_pairs _, q29Sql),
    Query("q30_cosine_topk", q30_cosine_topk _, q30Sql),
    Query("q31_ann_lsh", q31_ann_lsh _, q31Sql),
    Query("q32_media_features", q32_media_features _, q32Sql)
  )
}
