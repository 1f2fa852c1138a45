package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.TextAnalysis
import graft.streaming.CurationChain

/** The composed-curation ADMISSION frame: q496 certifies the batch chain as a
  * 6-row WATERFALL over a corpus being curated; q499 is the PER-DOC
  * verdict frame of the same chain run as an ingestion gate against a
  * stored corpus, the form [[graft.streaming.CurationChain]] evaluates
  * incrementally and StreamingCurationChainSpec certifies stream ≡
  * batch on.
  *
  * Fixture (the q99 doctored-delta recipe, so every stage provably
  * fires at both SFs): eval = docs 0–9, stored corpus = docs 10–99,
  * delta = fresh docs ≥ 100 PLUS exact corpus copies (+300000 → must
  * read exact_dup with dup_of = the original), last-5-token truncations
  * of corpus docs (+100000 → near_dup against the stored index), exact
  * eval copies (+400000 → decontam), and 4-token-period repetition docs
  * built from corpus prefixes (+500000 → unique-ratio < ½ → quality).
  *
  * The mirror replays the ENTIRE chain — eval shingle overlap, the
  * min-id exact rule over stored ∪ earlier-id passers, the full
  * 64-component/16-band MinHash admission (the q99 CTE recipe) over
  * corpus ∪ stage-2 passers, and the quality floor — so a divergence in
  * ANY stage's semantics or in the stage ORDER (the verdict is the
  * first failing stage) reds the row.
  */
object ExtensionQueries137 extends QueryGroup {

  private val Bands = 16
  private val MinEstJ = 0.4
  private val NSig = 64

  private[graft] def fixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val evalDocs = d.filter(col("doc_id") < 10)
    val corpus = d.filter(col("doc_id") >= 10 && col("doc_id") < 100)
    val toks = TextAnalysis.tokens(col("text"))
    val delta = d.filter(col("doc_id") >= 100)
      .unionByName(corpus.select((col("doc_id") + 300000L).as("doc_id"), col("text")))
      .unionByName(corpus.select((col("doc_id") + 100000L).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 5, lit(3)))).as("text")))
      .unionByName(evalDocs.select((col("doc_id") + 400000L).as("doc_id"), col("text")))
      .unionByName(corpus.select((col("doc_id") + 500000L).as("doc_id"),
        concat_ws(" ", flatten(array_repeat(slice(toks, 1, 4), 4))).as("text")))
    (delta, corpus, evalDocs)
  }

  /** q499: [[CurationChain.admitBatch]] over the doctored delta — one
    * (doc_id, verdict, dup_of) row per delta doc, verdict = the first
    * failing stage of the q496 chain in admission form.
    */
  def q499_curation_admission(s: SparkSession, dir: String): DataFrame = {
    val (delta, corpus, evalDocs) = fixture(s, dir)
    CurationChain.admitBatch(delta, corpus, evalDocs, Bands, MinEstJ, NSig)
      .orderBy(col("doc_id"))
  }

  val q499Sql: String = {
    val toks = "string_split(text, ' ')"
    val sh3 = s"list_transform(range(1, len($toks) - 1), " +
      s"sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + 2), ' '))"
    val hashed = s"list_transform($sh3, sh_s -> ${QueryBlocks.phSql("sh_s")})"
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |ev AS (SELECT doc_id, text FROM d WHERE doc_id < 10),
       |corpus AS (SELECT doc_id, text FROM d WHERE doc_id >= 10 AND doc_id < 100),
       |delta AS MATERIALIZED (
       |  SELECT doc_id, text FROM d WHERE doc_id >= 100
       |  UNION ALL SELECT doc_id + 300000, text FROM corpus
       |  UNION ALL SELECT doc_id + 100000,
       |    array_to_string(list_slice($toks, 1, greatest(len($toks) - 5, 3)), ' ')
       |  FROM corpus
       |  UNION ALL SELECT doc_id + 400000, text FROM ev
       |  UNION ALL SELECT doc_id + 500000,
       |    array_to_string(flatten(list_transform(range(0, 4),
       |      rp_i -> list_slice($toks, 1, 4))), ' ')
       |  FROM corpus
       |),
       |evsh AS (
       |  SELECT DISTINCT unnest(list_distinct($hashed)) AS sh
       |  FROM ev WHERE len($toks) >= 3
       |),
       |cont AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh
       |    FROM (SELECT doc_id, list_distinct($hashed) AS shs
       |          FROM delta WHERE len($toks) >= 3)
       |  ) x JOIN evsh USING (sh)
       |  GROUP BY doc_id, n_sh HAVING count(*) * 2 >= n_sh
       |),
       |s1 AS MATERIALIZED (
       |  SELECT * FROM delta WHERE doc_id NOT IN (SELECT doc_id FROM cont)
       |),
       |cfirst AS (SELECT text, min(doc_id) AS corpus_min FROM corpus GROUP BY text),
       |s1m AS (
       |  SELECT s1.doc_id, s1.text, cf.corpus_min,
       |    min(s1.doc_id) OVER (PARTITION BY s1.text) AS delta_min
       |  FROM s1 LEFT JOIN cfirst cf USING (text)
       |),
       |ex AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN corpus_min IS NOT NULL AND delta_min < doc_id
       |           THEN least(corpus_min, delta_min)
       |         WHEN corpus_min IS NOT NULL THEN corpus_min
       |         WHEN delta_min < doc_id THEN delta_min END AS exact_dup_of
       |  FROM s1m
       |),
       |allv AS MATERIALIZED (
       |  SELECT doc_id, text, 0 AS src FROM corpus
       |  UNION ALL
       |  SELECT s1.doc_id, s1.text, 1 FROM s1
       |  JOIN ex USING (doc_id) WHERE ex.exact_dup_of IS NULL
       |),
       |hs AS (
       |  SELECT doc_id, src, $hashed AS hashes FROM allv
       |),
       |sg AS MATERIALIZED (
       |  SELECT doc_id, src, list_transform(range(0, $NSig), mh_i ->
       |    list_min(list_transform(hashes, mh_h ->
       |      (mh_h * (((2*mh_i + 1) * 2654435761) % 1000000007) + (40503*mh_i + 1)) % 1000000007))) AS sig
       |  FROM hs
       |),
       |bandix AS (SELECT unnest(range(0, $Bands)) AS band),
       |banded AS (
       |  SELECT doc_id, src, band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, band*4 + 1, band*4 + 4)),
       |      (bk_a, bk_x) -> (bk_a*31 + bk_x) % 1000000007) AS bk
       |  FROM sg CROSS JOIN bandix
       |),
       |cand AS (
       |  SELECT DISTINCT de.doc_id AS id_d, p.doc_id AS id_p
       |  FROM banded de JOIN banded p
       |    ON de.band = p.band AND de.bk = p.bk AND de.src = 1
       |    AND (p.src = 0 OR p.doc_id < de.doc_id)
       |),
       |est AS (
       |  SELECT id_d, id_p
       |  FROM cand JOIN sg sa ON id_d = sa.doc_id JOIN sg sb ON id_p = sb.doc_id
       |  WHERE CAST(list_sum(list_transform(range(1, ${NSig + 1}),
       |    eq_i -> CASE WHEN sa.sig[eq_i] = sb.sig[eq_i] THEN 1 ELSE 0 END)) AS DOUBLE) / $NSig >= $MinEstJ
       |),
       |fd AS (SELECT id_d, min(id_p) AS dup_of FROM est GROUP BY id_d)
       |SELECT dl.doc_id,
       |  CASE WHEN dl.doc_id IN (SELECT doc_id FROM cont) THEN 'decontam'
       |       WHEN ex.exact_dup_of IS NOT NULL THEN 'exact_dup'
       |       WHEN fd.dup_of IS NOT NULL THEN 'near_dup'
       |       WHEN len($toks) < 8 OR len(list_distinct($toks)) * 2 < len($toks)
       |         THEN 'quality'
       |       ELSE 'admitted' END AS verdict,
       |  CASE WHEN dl.doc_id IN (SELECT doc_id FROM cont) THEN NULL
       |       WHEN ex.exact_dup_of IS NOT NULL THEN ex.exact_dup_of
       |       ELSE fd.dup_of END AS dup_of
       |FROM delta dl
       |LEFT JOIN ex USING (doc_id)
       |LEFT JOIN fd ON dl.doc_id = fd.id_d
       |ORDER BY dl.doc_id""".stripMargin
  }

  // --------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q499_curation_admission", q499_curation_admission _, q499Sql)
  )
}
