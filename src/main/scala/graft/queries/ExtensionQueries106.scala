package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Dedup

/** The q358 scale remedy, implemented and certified.
  *
  * q358's blocked edit-distance dedup carries the Σ_b c_b² candidate
  * law (measured 200 → 19,706 candidates for 10× docs, kc ≈ 1.0 —
  * the only at-linear query on its scale rung). The fix is a minhash
  * band in the block key, which bounds c_b. These two queries apply
  * and certify it:
  *
  *  - q358b runs the SAME pair predicate (prefix Levenshtein ≤ 20
  *    within (lang, length-band, first-token) blocks) but sharpens the
  *    join key with banded MinHash over the prefix's 3-token shingles:
  *    8 affine components (the q27/q29 machinery), folded into 4
  *    width-2 bands, OR'd LSH-style — a pair is a candidate if ANY
  *    band agrees alongside the original block key. Measured on the
  *    corpus: candidates drop 200 → 6 at sf0.01 and 19,706 → 77 at
  *    sf0.1 (candidate growth ≈ the TRUE-pair growth — the quadratic
  *    in-block mass is gone), with 6/6 and 77/77 of q358's exact
  *    pairs recovered (zero loss at both SFs).
  *  - q358c is the recall CERTIFICATE: it computes q358's exact pair
  *    set and q358b's banded set in one frame and reports candidate /
  *    pair / recovered counts with recall and precision in exact ppm
  *    — the q114/q382 pattern (the approximate path ships with its
  *    own measured floor, not an assumption). Note banded pairs are a
  *    SUBSET of exact pairs by construction (same block key, same
  *    edit filter) — the certificate's join PROVES n_recovered =
  *    n_pairs_banded rather than assuming it.
  */
object ExtensionQueries106 extends QueryGroup {

  /** Bands × width geometry: 8 signature components, 4 bands of 2.
    * Width 2 keeps per-band collisions rare (two agreeing minima);
    * OR-ing 4 bands keeps recall at 1.0 for the near-identical
    * prefixes the edit filter targets (ed ≤ 4 observed ⇒ shingle
    * Jaccard ≥ ~0.66, most pairs 1.0).
    */
  private val SigN = 8
  private val Bands = 4

  /** The blocked frame both queries share: q358's key columns plus the
    * banded minhash keys ((band_id, bk) exploded, one row per band).
    * Docs whose 60-char prefix has <3 tokens carry no 3-shingles
    * (empty hash array → all-null signature → null band keys that no
    * equi-join matches, identically in DuckDB) — filtered explicitly
    * so both engines run the same frame.
    */
  private def bandedPrefix(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        expr("n_chars div 100").as("band"),
        split(col("text"), " ").getItem(0).as("w1"),
        substring(col("text"), 1, 60).as("p"))
      .filter(size(split(col("p"), " ")) >= 3)
      .withColumn("hashes", Dedup.shingleHashes(col("p"), 3))
      .withColumn("sig", Dedup.minhashFromHashes(col("hashes"), SigN))
      .select(col("doc_id"), col("lang"), col("band"), col("w1"), col("p"),
        posexplode(graft.functions.BandKeys.bandKeys(col("sig"), Bands)))
      .withColumnRenamed("pos", "band_id").withColumnRenamed("col", "bk")

  /** Banded candidate pairs (distinct, with both prefixes carried for
    * the verify step). Scale shape: ONE equi-join shuffle on the
    * six-part compound key (lang, length band, first token, band id,
    * band key) — buckets are near-singletons once the minhash key
    * joins in, so in-block pair work tracks the TRUE pair count, not
    * Σc²; the distinct collapses multi-band agreement.
    */
  private[queries] def bandedCandidates(s: SparkSession, dir: String): DataFrame = {
    val m = bandedPrefix(s, dir)
    m.as("a").join(m.as("b"),
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
          col("a.w1") === col("b.w1") && col("a.band_id") === col("b.band_id") &&
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.p").as("pa"), col("b.p").as("pb"))
      .distinct()
  }

  // -------------------------------------------------------------- q358b

  /** q358b: q358's near-duplicate pairs through the minhash-sharpened
    * block key. Same output contract as q358 (doc_a, doc_b,
    * edit_dist). At corpus scale this is the shape that survives:
    * per-doc signature work is linear, the candidate join is bounded
    * by band-bucket sizes, and the Levenshtein verify runs on ~the
    * true pair count instead of Σ_b c_b(c_b−1)/2.
    */
  def q358b_banded_edit_dedup(s: SparkSession, dir: String): DataFrame =
    bandedCandidates(s, dir)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= 20)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Shared DuckDB CTE chain up to the banded candidate set (also the
    * feed of q430's transitivity audit in [[ExtensionQueries114]]). */
  private[queries] val candSql: String = {
    val ph = QueryBlocks.phSql("sh_s")
    s"""WITH d AS (
       |  SELECT doc_id, lang, n_chars // 100 AS band,
       |    string_split(text, ' ')[1] AS w1, text[:60] AS p
       |  FROM documents
       |  WHERE len(string_split(text[:60], ' ')) >= 3
       |), hs AS (
       |  SELECT doc_id, lang, band, w1, p,
       |    list_transform(list_transform(range(1, len(string_split(p, ' ')) - 1),
       |      sh_i -> array_to_string(list_slice(string_split(p, ' '), sh_i, sh_i + 2), ' ')),
       |      sh_s -> $ph) AS hashes
       |  FROM d
       |), sg AS (
       |  SELECT doc_id, lang, band, w1, p, list_transform(range(0, $SigN), mh_i ->
       |    list_min(list_transform(hashes, mh_h ->
       |      (mh_h * (((2*mh_i + 1) * 2654435761) % 1000000007) + (40503*mh_i + 1)) % 1000000007))) AS sig
       |  FROM hs
       |), banded AS (
       |  SELECT doc_id, lang, band, w1, p, band_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_slice(sig, band_id*2 + 1, band_id*2 + 2)),
       |      (bk_a, bk_x) -> (bk_a*31 + bk_x) % 1000000007) AS bk
       |  FROM sg CROSS JOIN (SELECT unnest(range(0, $Bands)) AS band_id)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
       |  FROM banded a JOIN banded b
       |    ON a.lang = b.lang AND a.band = b.band AND a.w1 = b.w1
       |    AND a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  val q358bSql: String =
    s"""$candSql
       |SELECT doc_a, doc_b, CAST(levenshtein(pa, pb) AS BIGINT) AS edit_dist
       |FROM cand WHERE levenshtein(pa, pb) <= 20
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------------------- q358c

  /** q358c: the recall certificate — exact q358 pairs vs the banded
    * path, one row: candidate count, banded pair count, exact pair
    * count, recovered count (the subset join), recall and precision
    * in exact ppm. Scale shape: the EXACT side re-runs q358's Σc²
    * block join — this query is the certificate (run at verify
    * scale), q358b is the production path; the same division as
    * q114's IVF recall cert and q382's dedup report card.
    */
  def q358c_banded_recall_cert(s: SparkSession, dir: String): DataFrame = {
    val exact = graft.queries.ExtensionQueries89
      .q358_edit_distance_dedup(s, dir)
      .select(col("doc_a"), col("doc_b"))
    val cands = bandedCandidates(s, dir)
      .select(col("doc_a"), col("doc_b"),
        (levenshtein(col("pa"), col("pb")) <= 20).as("is_pair"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val bandStats = cands.agg(count(lit(1)).as("n_cand"),
      sum(when(col("is_pair"), 1L).otherwise(0L)).as("n_pairs_banded"))
    val nRec = cands.filter(col("is_pair"))
      .join(exact, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_recovered"))
    bandStats.crossJoin(broadcast(nExact)).crossJoin(broadcast(nRec))
      .select(col("n_exact"), col("n_cand"), col("n_pairs_banded"),
        col("n_recovered"),
        expr("CASE WHEN n_exact = 0 THEN 1000000 " +
          "ELSE n_recovered * 1000000 div n_exact END").as("recall_ppm"),
        expr("CASE WHEN n_cand = 0 THEN 1000000 " +
          "ELSE n_pairs_banded * 1000000 div n_cand END").as("precision_ppm"))
  }

  val q358cSql: String =
    s"""$candSql,
       |exact AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM (SELECT doc_id, lang, n_chars // 100 AS band,
       |          string_split(text, ' ')[1] AS w1, text[:60] AS p FROM documents) a
       |  JOIN (SELECT doc_id, lang, n_chars // 100 AS band,
       |          string_split(text, ' ')[1] AS w1, text[:60] AS p FROM documents) b
       |    ON a.lang = b.lang AND a.band = b.band AND a.w1 = b.w1
       |    AND a.doc_id < b.doc_id
       |  WHERE levenshtein(a.p, b.p) <= 20
       |), bp AS (
       |  SELECT doc_a, doc_b, (levenshtein(pa, pb) <= 20) AS is_pair FROM cand
       |), agg AS (
       |  SELECT
       |    (SELECT count(*) FROM exact) AS n_exact,
       |    (SELECT count(*) FROM bp) AS n_cand,
       |    (SELECT count(*) FROM bp WHERE is_pair) AS n_pairs_banded,
       |    (SELECT count(*) FROM bp JOIN exact USING (doc_a, doc_b)
       |       WHERE is_pair) AS n_recovered
       |)
       |SELECT n_exact, n_cand, n_pairs_banded, n_recovered,
       |  CAST(CASE WHEN n_exact = 0 THEN 1000000
       |    ELSE n_recovered * 1000000 // CAST(n_exact AS BIGINT) END AS BIGINT)
       |    AS recall_ppm,
       |  CAST(CASE WHEN n_cand = 0 THEN 1000000
       |    ELSE n_pairs_banded * 1000000 // CAST(n_cand AS BIGINT) END AS BIGINT)
       |    AS precision_ppm
       |FROM agg""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q358b_banded_edit_dedup", q358b_banded_edit_dedup _, q358bSql),
    Query("q358c_banded_recall_cert", q358c_banded_recall_cert _, q358cSql)
  )
}
