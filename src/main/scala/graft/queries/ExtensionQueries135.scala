package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{Contamination, TextAnalysis}

/** Round-17: the cross-tier composition certificate (round-16 verdict
  * task #8 — "the only thin seam left is cross-tier composition
  * certificates ... the q42/q404-style report for the TEXT pipeline
  * end-to-end").
  *
  * q496 chains the engine's text-curation operators the way a real
  * pretraining ingestion run composes them and certifies the WHOLE
  * chain in one waterfall frame:
  *
  *   raw → decontam (q48's eval-overlap operator, integer-exact ≥ ½
  *   floor) → exact dedup (q25's keep-min-id rule) → near-dup dedup
  *   (q109's PPJoin t = 0.5 pair frame — the SHARED staged frame, so
  *   the chain pays no new generator) → quality floor (integer-exact
  *   token/uniqueness bounds) → mixture rebalance (q58's deterministic
  *   hash-threshold rule, thresholds from the SURVIVING corpus).
  *
  * One row per stage with (n_in, n_out, removed, removed_ppm); each
  * row's n_in is definitionally the previous row's n_out, so the frame
  * certifies stage COMPOSITION in-row, and the DuckDB mirror re-derives
  * the entire chain independently — a divergence at ANY stage (filter
  * semantics, dedup policy, threshold arithmetic) reds the single
  * hash-checked result.
  *
  * Near-dup policy note: the stage drops every doc with a SURVIVING
  * lower-id J ≥ 0.5 partner (pair-local min-id rule, not the
  * transitive-closure representative q42 elects) — deterministic,
  * mirror-replayable, and the policy a streaming admission gate can
  * actually evaluate; the closure variant lives in q42/q142.
  *
  * Scale shape: every stage is one map-side-combinable aggregate or a
  * broadcast/semi-join against a bounded frame (eval shingles ≤ 10
  * docs, staged pair parquet bounded by true near-dup mass, per-lang
  * threshold table ≤ |langs| rows); the six stage counts re-derive the
  * chain per branch, which a 100 TB run would checkpoint between
  * stages — the semantics, not the branch sharing, are what this query
  * certifies.
  */
object ExtensionQueries135 extends QueryGroup {

  /** q58's overflow-free deterministic hash bucket (doc_id folded below
    * 2²⁰ first so no product exceeds 2⁵²). */
  private def hashBucket(id: org.apache.spark.sql.Column) =
    pmod(pmod(pmod(id, lit(1048573L)) * lit(2654435761L) + lit(101L),
      lit(1000000007L)), lit(1000000L))

  def q496_text_pipeline_cert(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("lang"))
    // stage 1 — decontam: docs 0-9 are the held-out eval set; drop them
    // from the training corpus plus any doc sharing ≥ half its hashed
    // 3-shingles with them (integer cross-multiplied, no float frac)
    val evalSet = d.filter(col("doc_id") < 10).select(col("doc_id"), col("text"))
    val train = d.filter(col("doc_id") >= 10)
    val contaminated = Contamination.overlap(train, evalSet, "doc_id", col("text"), 3)
      .filter(col("n_shared") * 2 >= col("n_shingles"))
      .select(col("id").as("doc_id"))
    // scoped caches: the six waterfall branches each re-derive their
    // stage chain inside ONE action — caching s2/s3/s5 makes every
    // stage compute once per run (q140 pattern; measured 4.8 → ~2 s)
    val s2 = graft.core.CacheScope.scoped(
      train.join(contaminated, Seq("doc_id"), "left_anti"))
    // stage 2 — exact dedup: keep the min doc_id per identical text
    val minId = s2.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    val s3 = graft.core.CacheScope.scoped(
      s2.join(minId, Seq("text", "doc_id"), "left_semi"))
    // stage 3 — near-dup dedup: drop any doc with a surviving lower-id
    // J ≥ 0.5 partner; pairs come from the SHARED staged PPJoin frame
    // (ExtensionQueries9.ppjoinPairsStaged — no new generator run)
    val pairs = ExtensionQueries9.ppjoinPairsStaged(s, dir)
      .select(col("id_a"), col("id_b"))
    val s3Ids = s3.select(col("doc_id"))
    val dupDrop = pairs
      .join(s3Ids.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
      .join(s3Ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      .select(col("id_b").as("doc_id")).distinct()
    val s4 = s3.join(dupDrop, Seq("doc_id"), "left_anti")
    // stage 4 — quality floor, integer-exact: ≥ 8 tokens and unique
    // ratio ≥ ½ (distinct·2 ≥ total — no float division)
    val toks = TextAnalysis.tokens(col("text"))
    val s5 = graft.core.CacheScope.scoped(s4.filter(size(toks) >= 8 &&
      size(array_distinct(toks)) * 2 >= size(toks)))
    // stage 5 — mixture rebalance: q58's hash-threshold rule with
    // per-lang thresholds computed from the SURVIVING corpus
    val counts = s5.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
    val minCount = counts.agg(min(col("n_total")).as("n_min"))
    val thr = counts.crossJoin(broadcast(minCount))
      .withColumn("thr",
        floor(col("n_min").cast("double") / col("n_total") * 1000000).cast("long"))
      .select(col("lang"), col("thr"))
    val s6 = s5.join(broadcast(thr), Seq("lang"))
      .filter(hashBucket(col("doc_id")) < col("thr"))

    val stages: Seq[(Int, String, DataFrame)] = Seq(
      (0, "raw", d), (1, "decontam", s2), (2, "exact_dedup", s3),
      (3, "neardup_dedup", s4), (4, "quality", s5), (5, "mixture", s6))
    val w = stages.map { case (i, n, df) =>
      df.agg(count(lit(1)).as("n_out"))
        .select(lit(i).as("stage_idx"), lit(n).as("stage"), col("n_out"))
    }.reduce(_.unionByName(_))
    val prev = w.select((col("stage_idx") + 1).as("stage_idx"),
      col("n_out").as("n_prev"))
    w.join(prev, Seq("stage_idx"), "left")
      .select(col("stage_idx"), col("stage"),
        coalesce(col("n_prev"), col("n_out")).as("n_in"), col("n_out"))
      .withColumn("removed", col("n_in") - col("n_out"))
      .withColumn("removed_ppm",
        when(col("n_in") === 0, 0L)
          .otherwise(expr("removed * 1000000 div n_in")))
      .orderBy(col("stage_idx"))
  }

  /** hashed 3-shingle list (the Dedup.shingleHashes / q48 formula) */
  private def shsSql(src: String): String = {
    val toks = "string_split(text, ' ')"
    val ph = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, length(sh_s)+1), ch_i -> CAST(ascii(substring(sh_s, ch_i, 1)) AS BIGINT))), " +
      "(ph_a, ph_b) -> (ph_a*31 + ph_b) % 1000000007)"
    s"""SELECT doc_id, list_distinct(list_transform(
       |    list_transform(range(1, len($toks) - 1),
       |      sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + 2), ' ')),
       |    sh_s -> $ph)) AS shs
       |  FROM $src WHERE len($toks) >= 3""".stripMargin
  }

  val q496Sql: String = {
    val toks = "string_split(text, ' ')"
    s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
       |ev AS (SELECT doc_id, text FROM d WHERE doc_id < 10),
       |train AS (SELECT * FROM d WHERE doc_id >= 10),
       |evsh AS (SELECT DISTINCT unnest(shs) AS sh FROM (${shsSql("ev")})),
       |corp AS (${shsSql("train")}),
       |hits AS (
       |  SELECT cs.doc_id, count(*) AS n_shared, any_value(cs.n_sh) AS n_sh
       |  FROM (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM corp) cs
       |  JOIN evsh USING (sh) GROUP BY cs.doc_id
       |),
       |s2 AS MATERIALIZED (
       |  SELECT * FROM train
       |  WHERE doc_id NOT IN (SELECT doc_id FROM hits WHERE n_shared * 2 >= n_sh)
       |),
       |s3 AS MATERIALIZED (
       |  SELECT s2.* FROM s2
       |  JOIN (SELECT text, min(doc_id) AS doc_id FROM s2 GROUP BY text) m
       |    USING (text, doc_id)
       |),
       |sh AS MATERIALIZED (
       |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
       |    range(1, len($toks) - 1),
       |    sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + 2), ' ')))) AS sh
       |  FROM d WHERE len($toks) >= 3
       |),
       |sizes AS (SELECT id, count(*) AS nsh FROM sh GROUP BY id),
       |prs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2
       |),
       |jp AS (
       |  SELECT id_a, id_b FROM prs
       |  JOIN sizes na ON id_a = na.id JOIN sizes nb ON id_b = nb.id
       |  WHERE CAST(inter AS BIGINT) * 1000000 >= 500000 * (na.nsh + nb.nsh - inter)
       |),
       |s4 AS MATERIALIZED (
       |  SELECT * FROM s3 WHERE doc_id NOT IN (
       |    SELECT DISTINCT id_b FROM jp
       |    WHERE id_a IN (SELECT doc_id FROM s3) AND id_b IN (SELECT doc_id FROM s3))
       |),
       |s5 AS MATERIALIZED (
       |  SELECT * FROM s4 WHERE len($toks) >= 8
       |    AND len(list_distinct($toks)) * 2 >= len($toks)
       |),
       |cnt AS (SELECT lang, count(*) AS n_total FROM s5 GROUP BY lang),
       |mn AS (SELECT min(n_total) AS n_min FROM cnt),
       |thr AS (
       |  SELECT lang,
       |    CAST(floor(CAST(n_min AS DOUBLE) / n_total * 1000000) AS BIGINT) AS thr
       |  FROM cnt, mn
       |),
       |s6 AS (
       |  SELECT s5.doc_id FROM s5 JOIN thr USING (lang)
       |  WHERE (((s5.doc_id % 1048573) * 2654435761 + 101) % 1000000007) % 1000000 < thr
       |),
       |w(stage_idx, stage, n_out) AS (
       |  SELECT CAST(0 AS INTEGER), 'raw', (SELECT count(*) FROM d) UNION ALL
       |  SELECT 1, 'decontam', (SELECT count(*) FROM s2) UNION ALL
       |  SELECT 2, 'exact_dedup', (SELECT count(*) FROM s3) UNION ALL
       |  SELECT 3, 'neardup_dedup', (SELECT count(*) FROM s4) UNION ALL
       |  SELECT 4, 'quality', (SELECT count(*) FROM s5) UNION ALL
       |  SELECT 5, 'mixture', (SELECT count(*) FROM s6)
       |)
       |SELECT cur.stage_idx, cur.stage,
       |  coalesce(prev.n_out, cur.n_out) AS n_in, cur.n_out,
       |  coalesce(prev.n_out, cur.n_out) - cur.n_out AS removed,
       |  CASE WHEN coalesce(prev.n_out, cur.n_out) = 0 THEN 0
       |       ELSE (coalesce(prev.n_out, cur.n_out) - cur.n_out) * 1000000
       |            // coalesce(prev.n_out, cur.n_out) END AS removed_ppm
       |FROM w cur LEFT JOIN w prev ON prev.stage_idx = cur.stage_idx - 1
       |ORDER BY cur.stage_idx""".stripMargin
  }

  // --------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q496_text_pipeline_cert", q496_text_pipeline_cert _, q496Sql)
  )
}
