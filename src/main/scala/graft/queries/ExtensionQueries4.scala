package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Training-data governance: PII scrubbing and deterministic mixture rebalancing — two ops every pretraining pipeline runs between
  * dedup (q25-q29) and packing (q54).
  */
object ExtensionQueries4 extends QueryGroup {

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+1-555-[0-9]{4}"

  /** q57: PII redaction — emails and phone-shaped tokens replaced with
    * typed placeholders, with per-doc match counts for the scrub audit.
    * PII is synthesized deterministically into the documents (the corpus
    * itself is clean), so the oracle can mirror both the dirt and the
    * scrub. Pure per-row regex work: one scan, no shuffle except the
    * output sort; the character-class-only patterns mean Java regex
    * (Spark) and RE2 (DuckDB) agree.
    */
  def q57_pii_scrub(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val dirty = concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"))
    d.select(col("doc_id"), dirty.as("text_dirty"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text_dirty"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text_dirty"), lit(PhoneRe), lit(0))).as("n_phones"),
        regexp_replace(regexp_replace(col("text_dirty"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("text_clean"))
      .orderBy(col("doc_id"))
  }

  val q57Sql: String =
    s"""WITH dirty AS (
       |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
       |    || '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |    AS text_dirty
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text_dirty, '$EmailRe')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(text_dirty, '$PhoneRe')) AS INT) AS n_phones,
       |  regexp_replace(regexp_replace(text_dirty, '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g') AS text_clean
       |FROM dirty ORDER BY doc_id""".stripMargin

  /** Portable deterministic per-doc hash bucket in [0, 1e6): two affine
    * steps in exact long arithmetic (doc_id folded below 2^20 first so no
    * product exceeds 2^52 — identical, overflow-free in any engine).
    */
  private def hashBucket(id: Column): Column =
    pmod(pmod(pmod(id, lit(1048573L)) * lit(2654435761L) + lit(101L),
      lit(1000000007L)), lit(1000000L))

  /** q58: deterministic mixture rebalancing — downsample every language to
    * the smallest language's share (the "balanced mixture" a multilingual
    * pretraining run wants) by hash-thresholding: keep a doc iff its hash
    * bucket falls under the per-lang threshold floor(n_min/n_total · 1e6).
    * The thresholds come from a tiny aggregate broadcast back over one
    * corpus scan — no window over giant language partitions, no RNG;
    * reproducible on any partitioning at any scale, quota accurate to
    * binomial noise. Output: per-lang totals, kept counts, thresholds.
    */
  def q58_mixture_sample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
    val minCount = counts.agg(min(col("n_total")).as("n_min"))
    val thr = counts.crossJoin(broadcast(minCount))
      .withColumn("thr",
        floor(col("n_min").cast("double") / col("n_total") * 1000000).cast("long"))
      .select(col("lang"), col("n_total"), col("thr"))
    d.join(broadcast(thr), Seq("lang"))
      .withColumn("keep", when(hashBucket(col("doc_id")) < col("thr"), 1L).otherwise(0L))
      .groupBy(col("lang"))
      .agg(max(col("n_total")).as("n_total"), sum(col("keep")).as("n_kept"),
        max(col("thr")).as("thr"))
      .orderBy(col("lang"))
  }

  val q58Sql: String =
    """WITH counts AS (
      |  SELECT lang, count(*) AS n_total FROM documents GROUP BY lang
      |), mn AS (SELECT min(n_total) AS n_min FROM counts
      |), thr AS (
      |  SELECT lang, n_total,
      |    CAST(floor(CAST(n_min AS DOUBLE) / n_total * 1000000) AS BIGINT) AS thr
      |  FROM counts, mn
      |), per AS (
      |  SELECT d.lang, t.n_total, t.thr,
      |    CASE WHEN (((d.doc_id % 1048573) * 2654435761 + 101) % 1000000007) % 1000000 < t.thr
      |         THEN 1 ELSE 0 END AS keep
      |  FROM documents d JOIN thr t USING (lang)
      |)
      |SELECT lang, max(n_total) AS n_total, CAST(sum(keep) AS BIGINT) AS n_kept,
      |  max(thr) AS thr
      |FROM per GROUP BY lang ORDER BY lang""".stripMargin

  /** q59: per-document top-3 TF-IDF terms — the keyword/salience extraction
    * step of a corpus-analysis pipeline. The idf rides as the EXACT scaled
    * rational tf·N·10⁶ div df (integral division) instead of a float
    * `ln(N/df)`: log is not correctly-rounded in either engine's libm, so
    * a float idf could flip cross-engine ranking ties — integer arithmetic
    * cannot. Shape: the canonical wordcount pair (tf per (doc,term) with
    * map-side combine; df via distinct-agg), one term-key join, a 1-row
    * count broadcast, and a per-doc bounded rank (doc_id partitions — no
    * global window). At trillion-doc scale the scaled product would move to
    * decimal(38,0); the shape is unchanged.
    */
  def q59_tfidf_topk(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.TextAnalysis
    val d = Tables.documents(s, dir)
    val terms = d.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term")).crossJoin(broadcast(n))
      .withColumn("score", expr("(tf * n_docs * 1000000) div df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val q59Sql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tfd AS (
      |  SELECT doc_id, term, count(*) AS tf FROM terms
      |  WHERE length(term) > 0 GROUP BY doc_id, term
      |), dfd AS (
      |  SELECT term, count(DISTINCT doc_id) AS df FROM terms
      |  WHERE length(term) > 0 GROUP BY term
      |), nd AS (SELECT count(*) AS n_docs FROM documents
      |), scored AS (
      |  SELECT doc_id, t.term, tf, df, (tf * n_docs * 1000000) // df AS score
      |  FROM tfd t JOIN dfd USING (term), nd
      |)
      |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      |  FROM scored) x
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** q63: conversion funnel — per user, the first view and the first
    * purchase at-or-after it, with a 1-hour conversion flag. Sequential
    * pattern detection as two narrow aggregations: tv per user (one
    * groupBy), then purchases re-scanned against the broadcast-joined tv
    * for the conditional min — never a per-user ordered window over the
    * full event stream, so no giant-partition sort at 100 TB. Exact-µs
    * integer time math throughout.
    */
  def q63_funnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
    val firstView = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("tv_us"))
    val firstPurchase = e.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("us") >= col("tv_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("tp_us"))
    firstView.join(firstPurchase, Seq("user_id"), "left")
      .select(col("user_id"), col("tv_us"), col("tp_us"),
        (col("tp_us").isNotNull &&
          col("tp_us") - col("tv_us") <= 3600L * 1000000L).as("converted_1h"))
      .orderBy(col("user_id"))
  }

  val q63Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      |), fv AS (
      |  SELECT user_id, min(us) AS tv_us FROM e WHERE event_type = 'view'
      |  GROUP BY user_id
      |), fp AS (
      |  SELECT e.user_id, min(us) AS tp_us
      |  FROM e JOIN fv ON e.user_id = fv.user_id
      |  WHERE event_type = 'purchase' AND us >= tv_us
      |  GROUP BY e.user_id
      |)
      |SELECT fv.user_id, tv_us, tp_us,
      |  coalesce(tp_us - tv_us <= 3600000000, false) AS converted_1h
      |FROM fv LEFT JOIN fp ON fv.user_id = fp.user_id
      |ORDER BY fv.user_id""".stripMargin

  /** q64: exact-quota per-group sampling — exactly k docs per language,
    * chosen by deterministic hash order (rank over (bucket, doc_id) within
    * lang). The rank ≤ k filter compiles to WindowGroupLimit (Spark 3.5+):
    * each partition pre-prunes to its top-k before the per-group shuffle,
    * so memory stays k-bounded even when one language dominates the
    * corpus. Complements q58's threshold sampling (binomial quota, zero
    * window) when the quota must be EXACT.
    */
  def q64_group_topk_sample(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .withColumn("bucket", hashBucket(col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("bucket"), col("doc_id"))
    d.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("doc_id"), col("bucket"))
      .orderBy(col("lang"), col("rank"))
  }

  val q64Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    (((doc_id % 1048573) * 2654435761 + 101) % 1000000007) % 1000000 AS bucket
      |  FROM documents
      |)
      |SELECT lang, CAST(rank AS INT) AS rank, doc_id, bucket FROM (
      |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rank
      |  FROM d) t
      |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin

  /** q67: media frame sampling (SURVEY §7.4 multimodal, the 1:N stage) —
    * the documents-as-video corpus through the typed partition-wise
    * flatMap, cardinality capped at 8 frames. The stub codec's arithmetic
    * is exact integer math over the payload polyhash, so the WHOLE stage —
    * duration, frame count cap, per-frame checksums — is value-oracled,
    * not just row-counted.
    */
  def q67_frame_sample(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Multimodal
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
      .filter(col("kind") === "video")
    Multimodal.sampleFrames(media, everyMs = 30000L, maxFrames = 8)
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  val q67Sql: String =
    s"""WITH v AS (
       |  SELECT doc_id AS media_id, ${QueryBlocks.phSql("text")} AS h
       |  FROM documents WHERE doc_id % 3 = 2
       |), f AS (
       |  SELECT media_id, CAST(k AS INT) AS frame_idx, k * 30000 AS ts_ms,
       |    (h * 31 + k) % 1000000007 AS frame_checksum,
       |    least((h % 300000) // 30000 + 1, 8) AS nf
       |  FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS k)
       |)
       |SELECT media_id, frame_idx, ts_ms, frame_checksum
       |FROM f WHERE frame_idx < nf
       |ORDER BY media_id, frame_idx""".stripMargin

  /** q68: Unicode NFC canonicalization (graft_nfc, a codegen expression
    * over java.text.Normalizer) — composed ("é") and decomposed ("e"+U+0301)
    * spellings of identical text are synthesized per document; raw they
    * compare UNEQUAL (and would hash to different dedup fingerprints),
    * after NFC they compare equal. Oracle: DuckDB's nfc_normalize
    * (utf8proc) — both sides implement UAX #15, so strings, lengths
    * (codepoints), and booleans match exactly.
    */
  def q68_unicode_nfc(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.NfcNormalize.nfc
    val d = Tables.documents(s, dir)
    val comp = concat(lit("caf\u00e9-r\u00e9sum\u00e9-"), col("doc_id").cast("string"))
    val decomp = concat(lit("cafe\u0301-re\u0301sume\u0301-"), col("doc_id").cast("string"))
    d.select(col("doc_id"),
        (comp === decomp).as("eq_raw"),
        (nfc(comp) === nfc(decomp)).as("eq_nfc"),
        length(decomp).cast("long").as("len_raw"),
        length(nfc(decomp)).cast("long").as("len_nfc"),
        nfc(decomp).as("canonical"))
      .orderBy(col("doc_id"))
  }

  val q68Sql: String = {
    // raw characters here (precomposed vs combining-mark spellings): these
    // must reach DuckDB verbatim inside the SQL literal
    val comp = "café-résumé-"
    val decomp = "café-résumé-"
    s"""WITH t AS (
       |  SELECT doc_id,
       |    '$comp' || CAST(doc_id AS VARCHAR) AS a,
       |    '$decomp' || CAST(doc_id AS VARCHAR) AS b
       |  FROM documents
       |)
       |SELECT doc_id, a = b AS eq_raw,
       |  nfc_normalize(a) = nfc_normalize(b) AS eq_nfc,
       |  length(b) AS len_raw, length(nfc_normalize(b)) AS len_nfc,
       |  nfc_normalize(b) AS canonical
       |FROM t ORDER BY doc_id""".stripMargin
  }


  /** q69: content-addressed document identity — sha256 of the NFC-normalized
    * text, the stable cross-run ID a dedup pipeline joins on (hash-of-content
    * survives re-crawls, re-partitioning, and re-ingestion where positional
    * ids do not). Emitted with a short prefix for human-facing keys and the
    * per-document dup group size computed over the full corpus in one
    * narrow self-agg. DuckDB mirrors sha256 exactly (hex, lowercase).
    */
  def q69_content_ids(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.NfcNormalize.nfc
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), sha2(nfc(col("text")), 256).as("content_id"))
    val groups = d.groupBy(col("content_id")).agg(count(lit(1)).as("n_same"))
    d.join(groups, Seq("content_id"))
      .select(col("doc_id"), col("content_id"),
        substring(col("content_id"), 1, 12).as("short_id"), col("n_same"))
      .orderBy(col("doc_id"))
  }

  val q69Sql: String =
    """WITH d AS (
      |  SELECT doc_id, sha256(nfc_normalize(text)) AS content_id FROM documents
      |), g AS (
      |  SELECT content_id, count(*) AS n_same FROM d GROUP BY content_id
      |)
      |SELECT doc_id, d.content_id, substring(d.content_id, 1, 12) AS short_id, n_same
      |FROM d JOIN g ON d.content_id = g.content_id
      |ORDER BY doc_id""".stripMargin

  /** q71: repeated-span boilerplate removal
    * (TextAnalysis.flagBoilerplate — the RefinedWeb-style pass that
    * catches navigation chrome / CTA spans whole-document dedup misses).
    * Documents are chunked into deterministic 8-token paragraphs and a
    * synthetic newsletter CTA is appended to every third doc (the corpus
    * itself has no cross-doc spans); the op must flag exactly the injected
    * span — it appears in ~n/3 distinct docs, far above the 20-doc
    * threshold — while every organic chunk stays kept. Output is
    * paragraph-level (doc_id, idx, para, keep); reassembly order is
    * pinned by idx.
    */
  def q71_boilerplate(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.TextAnalysis
    val d = Tables.documents(s, dir)
      .filter(size(TextAnalysis.tokens(col("text"))) >= 1)
      .select(col("doc_id"),
        TextAnalysis.paragraphChunks(col("text"), 8).as("chunks"))
    val withCta = d.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(col("chunks"), array(lit("subscribe to our newsletter today"))))
        .otherwise(col("chunks")).as("chunks"))
    val paras = withCta
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("idx0", "para")))
      .select(col("doc_id"), (col("idx0") + 1).cast("long").as("idx"), col("para"))
    TextAnalysis.flagBoilerplate(paras, "doc_id", "para", minDocs = 20)
      .select(col("doc_id"), col("idx"), col("para"), col("keep"))
      .orderBy(col("doc_id"), col("idx"))
  }

  val q71Sql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 1
      |), ch AS (
      |  SELECT doc_id, list_transform(range(0, CAST(floor((len(toks) - 1) / 8.0) AS BIGINT) + 1),
      |    ck_i -> array_to_string(list_slice(toks, ck_i * 8 + 1, ck_i * 8 + 8), ' ')) AS chunks
      |  FROM d
      |), wb AS (
      |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
      |    THEN list_append(chunks, 'subscribe to our newsletter today')
      |    ELSE chunks END AS chunks
      |  FROM ch
      |), p AS (
      |  SELECT doc_id, unnest(range(1, len(chunks) + 1)) AS idx, unnest(chunks) AS para
      |  FROM wb
      |), hot AS (
      |  SELECT para FROM p GROUP BY para HAVING count(DISTINCT doc_id) >= 20
      |)
      |SELECT p.doc_id, p.idx, p.para, (h.para IS NULL) AS keep
      |FROM p LEFT JOIN hot h ON p.para = h.para
      |ORDER BY doc_id, idx""".stripMargin

  /** q72: incremental exact dedup (Dedup.incrementalExact) — docs < 400
    * play the already-clean corpus; the delta is docs ≥ 400 plus re-crawled
    * copies of docs 0-29 (id + 500000). Keys are sha-256 of the text (the
    * q69 content-id). The op must flag the copies as corpus dups, flag any
    * within-delta repeats keep-first, and keep the genuinely new docs.
    */
  def q72_incremental_dedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val corpus = d.filter(col("doc_id") < 400)
    val recrawl = corpus.filter(col("doc_id") < 30)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val delta = d.filter(col("doc_id") >= 400).select(col("doc_id"), col("text"))
      .union(recrawl)
    graft.ext.Dedup.incrementalExact(corpus, delta, "doc_id", sha2(col("text"), 256))
      .select(col("doc_id"), col("dup_of_corpus"), col("dup_in_delta"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val q72Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, sha256(text) AS k FROM documents WHERE doc_id < 400
      |), delta AS (
      |  SELECT doc_id, sha256(text) AS k FROM documents WHERE doc_id >= 400
      |  UNION ALL
      |  SELECT doc_id + 500000, sha256(text) FROM documents WHERE doc_id < 30
      |), ck AS (SELECT DISTINCT k FROM corpus),
      |flagged AS (
      |  SELECT d.doc_id,
      |    (ck.k IS NOT NULL) AS dup_of_corpus,
      |    row_number() OVER (PARTITION BY d.k ORDER BY d.doc_id) > 1 AS dup_in_delta
      |  FROM delta d LEFT JOIN ck ON d.k = ck.k
      |)
      |SELECT doc_id, dup_of_corpus, dup_in_delta,
      |  (NOT dup_of_corpus AND NOT dup_in_delta) AS keep
      |FROM flagged ORDER BY doc_id""".stripMargin

  /** q73: sliding-window context chunking (TextAnalysis.slidingChunks) —
    * 32-token windows every 24 tokens (8-token overlap), trailing window
    * clipped (HF-tokenizer overflow semantics: starts run while
    * start ≤ len−1, so the tail may be short). Output one row per chunk
    * with its token count; the window arithmetic mirrors in DuckDB's
    * list_slice exactly.
    */
  def q73_chunk_overlap(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.TextAnalysis
    val d = Tables.documents(s, dir)
      .filter(size(TextAnalysis.tokens(col("text"))) >= 1)
      .select(col("doc_id"), TextAnalysis.slidingChunks(col("text"), 32, 24).as("chunks"))
    d.select(col("doc_id"), posexplode(col("chunks")).as(Seq("idx0", "chunk")))
      .select(col("doc_id"), (col("idx0") + 1).cast("long").as("chunk_id"),
        size(split(col("chunk"), " ")).cast("long").as("n_tokens"), col("chunk"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val q73Sql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 1
      |), ch AS (
      |  SELECT doc_id, list_transform(range(0, CAST(floor((len(toks) - 1) / 24.0) AS BIGINT) + 1),
      |    cw_i -> array_to_string(list_slice(toks, cw_i * 24 + 1, cw_i * 24 + 32), ' ')) AS chunks
      |  FROM d
      |), p AS (
      |  SELECT doc_id, unnest(range(1, len(chunks) + 1)) AS chunk_id,
      |    unnest(chunks) AS chunk
      |  FROM ch
      |)
      |SELECT doc_id, chunk_id,
      |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens, chunk
      |FROM p ORDER BY doc_id, chunk_id""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q71_boilerplate", q71_boilerplate _, q71Sql),
    Query("q72_incremental_dedup", q72_incremental_dedup _, q72Sql),
    Query("q73_chunk_overlap", q73_chunk_overlap _, q73Sql),
    Query("q57_pii_scrub", q57_pii_scrub _, q57Sql),
    Query("q58_mixture_sample", q58_mixture_sample _, q58Sql),
    Query("q59_tfidf_topk", q59_tfidf_topk _, q59Sql),
    Query("q63_funnel", q63_funnel _, q63Sql),
    Query("q64_group_topk_sample", q64_group_topk_sample _, q64Sql),
    Query("q67_frame_sample", q67_frame_sample _, q67Sql),
    Query("q68_unicode_nfc", q68_unicode_nfc _, q68Sql),
    Query("q69_content_ids", q69_content_ids _, q69Sql)
  )
}
