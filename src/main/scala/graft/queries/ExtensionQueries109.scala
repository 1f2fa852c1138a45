package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Dedup
import QueryBlocks.spendBySegment

/** Intra-document repetition, matched-binary
  * treatment testing, and robust outlier fencing.
  *
  *  - q413 n-gram repetition stats — the Rae et al. (Gopher) style
  *    repetition filters: per document, the fraction of duplicated
  *    3-token shingles (in exact ppm) and the hottest shingle's
  *    multiplicity, rolled up per source with a 10% flag rate. The
  *    shingles ride the codegen'd [[Dedup.shingleHashes]]; a doc full
  *    of repeated boilerplate n-grams is training-data poison that
  *    simple length/stopword filters miss.
  *  - q414 Cochran's Q — the k-treatment extension of q383's McNemar:
  *    do the three span-terciles differ in users' propensity to emit
  *    a high-value event? Matched binary design (subject = user,
  *    treatment = period), Q exact in milli — pure integer algebra.
  *  - q415 Tukey fences — the boxplot outlier rule (1.5·IQR past the
  *    exact discrete quartiles) per segment: fence values, outlier
  *    counts per side, and the dollar mass above the high fence.
  *    Complements q194's boxplot frame with the canonical fence
  *    semantics and q371's HBOS with the nonparametric rule.
  */
object ExtensionQueries109 extends QueryGroup {

  // -------------------------------------------------------------- q413

  /** q413: per-source repetition report. dup_ppm(doc) =
    * (shingles − distinct)·10⁶ div shingles; max multiplicity via one
    * explode + (doc, hash) count (linear in total shingles — never
    * pairwise). Docs with <3 tokens have no 3-shingles and are
    * excluded on both engines.
    */
  def q413_repetition_ngrams(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        Dedup.shingleHashes(col("text"), 3).as("hashes"))
      .filter(size(col("hashes")) >= 1)
    val perDoc = d.select(col("doc_id"), col("source"),
        size(col("hashes")).cast("long").as("g_total"),
        size(array_distinct(col("hashes"))).cast("long").as("g_distinct"))
      .select(col("doc_id"), col("source"), col("g_total"),
        expr("(g_total - g_distinct) * 1000000 div g_total").as("dup_ppm"))
    val mult = d.select(col("doc_id"), explode(col("hashes")).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("m_doc"))
    perDoc.join(mult, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(dup_ppm) div count(1)").as("mean_dup_ppm"),
        sum(when(col("dup_ppm") >= 100000L, 1L).otherwise(0L)).as("n_flagged"),
        max(col("m_doc")).as("max_gram_mult"))
      .orderBy(col("source"))
  }

  val q413Sql: String = {
    val ph = QueryBlocks.phSql("sh_s")
    s"""WITH hs AS (
       |  SELECT doc_id, source,
       |    list_transform(list_transform(range(1, len(string_split(text, ' ')) - 1),
       |      sh_i -> array_to_string(list_slice(string_split(text, ' '), sh_i, sh_i + 2), ' ')),
       |      sh_s -> $ph) AS hashes
       |  FROM documents
       |), d AS (
       |  SELECT doc_id, source, hashes FROM hs WHERE len(hashes) >= 1
       |), per_doc AS (
       |  SELECT doc_id, source,
       |    (CAST(len(hashes) AS BIGINT) - len(list_distinct(hashes))) * 1000000
       |      // CAST(len(hashes) AS BIGINT) AS dup_ppm
       |  FROM d
       |), mult AS (
       |  SELECT doc_id, CAST(max(c) AS BIGINT) AS m_doc FROM (
       |    SELECT doc_id, h, count(*) AS c
       |    FROM (SELECT doc_id, unnest(hashes) AS h FROM d)
       |    GROUP BY doc_id, h
       |  ) GROUP BY doc_id
       |)
       |SELECT p.source, count(*) AS n_docs,
       |  CAST(sum(p.dup_ppm) AS BIGINT) // count(*) AS mean_dup_ppm,
       |  CAST(sum(CASE WHEN p.dup_ppm >= 100000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_flagged,
       |  max(m.m_doc) AS max_gram_mult
       |FROM per_doc p JOIN mult m USING (doc_id)
       |GROUP BY p.source ORDER BY p.source""".stripMargin
  }

  // -------------------------------------------------------------- q414

  /** q414: Cochran's Q over the matched design (user × span-tercile,
    * outcome = emitted a value ≥ 100 event in that period).
    * Q = (k−1)·(k·ΣG_j² − T²) / (k·T − ΣL_i²), all integers; k = 3.
    * Scale shape: one groupBy(user) with conditional maxima, then a
    * 1-row fold — no pairwise anything.
    */
  def q414_cochran_q(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000").as("us"),
        (col("value") >= 100.0).as("hi"))
    val span = ev.agg(min(col("us")).as("t0"), (max(col("us")) + 1).as("t1"))
    val flags = ev.crossJoin(broadcast(span))
      .select(col("user_id"),
        expr("least((us - t0) * 3 div (t1 - t0), 2)").as("period"), col("hi"))
      .groupBy(col("user_id"))
      .agg(max(when(col("period") === 0 && col("hi"), 1L).otherwise(0L)).as("x0"),
        max(when(col("period") === 1 && col("hi"), 1L).otherwise(0L)).as("x1"),
        max(when(col("period") === 2 && col("hi"), 1L).otherwise(0L)).as("x2"))
    flags.agg(count(lit(1)).as("n_users"),
        sum(col("x0")).as("g0"), sum(col("x1")).as("g1"), sum(col("x2")).as("g2"),
        sum((col("x0") + col("x1") + col("x2")) *
          (col("x0") + col("x1") + col("x2"))).as("l2"))
      .select(col("n_users"), col("g0"), col("g1"), col("g2"),
        expr("CASE WHEN 3 * (g0 + g1 + g2) - l2 = 0 THEN 0 ELSE " +
          "2 * (3 * (g0*g0 + g1*g1 + g2*g2) - (g0 + g1 + g2) * (g0 + g1 + g2)) " +
          "* 1000 div (3 * (g0 + g1 + g2) - l2) END").as("q_milli"))
  }

  val q414Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS us, (value >= 100.0) AS hi FROM events
      |), span AS (SELECT min(us) AS t0, max(us) + 1 AS t1 FROM ev),
      |flags AS (
      |  SELECT user_id,
      |    CAST(max(CASE WHEN least((us - span.t0) * 3 // (span.t1 - span.t0), 2) = 0
      |      AND hi THEN 1 ELSE 0 END) AS BIGINT) AS x0,
      |    CAST(max(CASE WHEN least((us - span.t0) * 3 // (span.t1 - span.t0), 2) = 1
      |      AND hi THEN 1 ELSE 0 END) AS BIGINT) AS x1,
      |    CAST(max(CASE WHEN least((us - span.t0) * 3 // (span.t1 - span.t0), 2) = 2
      |      AND hi THEN 1 ELSE 0 END) AS BIGINT) AS x2
      |  FROM ev, span GROUP BY user_id
      |), agg AS (
      |  SELECT count(*) AS n_users,
      |    CAST(sum(x0) AS BIGINT) AS g0, CAST(sum(x1) AS BIGINT) AS g1,
      |    CAST(sum(x2) AS BIGINT) AS g2,
      |    CAST(sum((x0 + x1 + x2) * (x0 + x1 + x2)) AS BIGINT) AS l2
      |  FROM flags
      |)
      |SELECT n_users, g0, g1, g2,
      |  CASE WHEN 3 * (g0 + g1 + g2) - l2 = 0 THEN 0 ELSE
      |    2 * (3 * (g0*g0 + g1*g1 + g2*g2) - (g0 + g1 + g2) * (g0 + g1 + g2))
      |    * 1000 // (3 * (g0 + g1 + g2) - l2) END AS q_milli
      |FROM agg""".stripMargin

  // -------------------------------------------------------------- q415

  /** q415: Tukey fences per segment on customer spend (whole
    * dollars). Quartiles are percentile_disc (exact data values);
    * the 1.5·IQR margin rides (3·IQR) div 2 — sub-dollar truncation,
    * mirrored exactly. Scale shape: one quartile pass + one
    * broadcast-joined counting pass.
    */
  def q415_tukey_fences(s: SparkSession, dir: String): DataFrame = {
    val sp = spendBySegment(s, dir)
      .select(col("seg"), col("v"))
    val fences = sp.groupBy(col("seg"))
      .agg(expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("q1"),
        expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("q3"))
      .select(col("seg"), col("q1"), col("q3"),
        expr("q1 - (3 * (q3 - q1)) div 2").as("lo_fence"),
        expr("q3 + (3 * (q3 - q1)) div 2").as("hi_fence"))
    sp.join(broadcast(fences), "seg")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("q1")).as("q1"), min(col("q3")).as("q3"),
        min(col("lo_fence")).as("lo_fence"), min(col("hi_fence")).as("hi_fence"),
        sum(when(col("v") < col("lo_fence"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("v") > col("hi_fence"), 1L).otherwise(0L)).as("n_high"),
        sum(when(col("v") > col("hi_fence"), col("v")).otherwise(0L))
          .as("high_mass_dollars"))
      .orderBy(col("seg"))
  }

  val q415Sql: String =
    """WITH sp AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY o.o_custkey, c.c_mktsegment
      |), f AS (
      |  SELECT seg, quantile_disc(v, 0.25) AS q1, quantile_disc(v, 0.75) AS q3,
      |    quantile_disc(v, 0.25) - (3 * (quantile_disc(v, 0.75) - quantile_disc(v, 0.25))) // 2
      |      AS lo_fence,
      |    quantile_disc(v, 0.75) + (3 * (quantile_disc(v, 0.75) - quantile_disc(v, 0.25))) // 2
      |      AS hi_fence
      |  FROM sp GROUP BY seg
      |)
      |SELECT sp.seg, count(*) AS n_customers,
      |  min(f.q1) AS q1, min(f.q3) AS q3,
      |  min(f.lo_fence) AS lo_fence, min(f.hi_fence) AS hi_fence,
      |  CAST(sum(CASE WHEN sp.v < f.lo_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(sum(CASE WHEN sp.v > f.hi_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |  CAST(sum(CASE WHEN sp.v > f.hi_fence THEN sp.v ELSE 0 END) AS BIGINT)
      |    AS high_mass_dollars
      |FROM sp JOIN f USING (seg)
      |GROUP BY sp.seg ORDER BY sp.seg""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q413_repetition_ngrams", q413_repetition_ngrams _, q413Sql),
    Query("q414_cochran_q", q414_cochran_q _, q414Sql),
    Query("q415_tukey_fences", q415_tukey_fences _, q415Sql)
  )
}
