package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables
import graft.ext.TextAnalysis

/** Round-11 batch 2: corpus-governance statistics that close three small
  * gaps left after the model-lifecycle work — probabilistic record
  * linkage (the statistical layer SNM/fuzzy-join candidate generation
  * feeds), the Zipf mass profile (the rank-frequency twin of the Heaps
  * vocabulary-growth curve, q244), and an index-health audit that runs
  * the PERSISTED IVF model over the full corpus (extending the
  * persisted==trained gate from q285's probe path to the assignment
  * path every ingest batch exercises).
  *
  * All three stay exact-integer end to end (ppm arithmetic, no
  * transcendentals) so the DuckDB mirrors hash bit-exactly.
  */
object ExtensionQueries65 extends QueryGroup {

  // --------------------------------------------------------------- q288

  /** q288: Fellegi–Sunter agreement-pattern table (Fellegi & Sunter,
    * "A Theory for Record Linkage", JASA 1969) over blocked document
    * pairs — the decision layer of probabilistic record linkage. Pairs
    * are generated inside (lang, source, n_chars div 20) blocks (an
    * equi-join; the strict doc_id inequality only orients each unordered
    * pair once); each pair gets a 3-bit agreement vector over exact-hash
    * / exact-length / 12-char-prefix comparators, and each observed
    * pattern is scored against its expected frequency under
    * field-independence (the FS u-probability null): lift >> 1e6 marks
    * the match region, lift ≈ 1e6 the non-match region. Expected counts
    * are exact rationals — `prod(m_i or n-m_i) / n^2` evaluated in
    * DECIMAL(38,0) (magnitudes ≤ 1e24, far under the documented
    * q181/q280 1e38 product ceiling) and reported in ppm, so both
    * engines agree bit-exactly; an observed pattern implies every one of
    * its factors ≥ 1, so the lift divisor is never zero.
    *
    * Scale shape: blocking is the standard linkage regime bound — the
    * candidate space is sum of C(block,2), kept sub-quadratic by
    * blocking keys whose cardinality grows with the corpus (here
    * lang×source×20-char length buckets; a 100 TB deployment swaps in
    * sharper keys the same way SNM q117 windows or LSH q29 bands do).
    * One equi-join shuffle, one pattern aggregation, a 1-row broadcast
    * of the field marginals.
    */
  def q288_linkage_patterns(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(
      col("doc_id"), col("lang"), col("source"), col("n_chars"),
      expr("n_chars div 20").as("blk"),
      md5(col("text")).as("h"), substring(col("text"), 1, 12).as("pfx"))
    def side(tag: String) = d.select(
      col("lang"), col("source"), col("blk"),
      col("doc_id").as(s"id_$tag"), col("n_chars").as(s"nc_$tag"),
      col("h").as(s"h_$tag"), col("pfx").as(s"pfx_$tag"))
    val pairs = side("l").join(side("r"), Seq("lang", "source", "blk"))
      .where(col("id_l") < col("id_r"))
      .select(
        when(col("h_l") === col("h_r"), 1L).otherwise(0L).as("a_hash"),
        when(col("nc_l") === col("nc_r"), 1L).otherwise(0L).as("a_len"),
        when(col("pfx_l") === col("pfx_r"), 1L).otherwise(0L).as("a_pfx"))
    val marg = pairs.agg(
      count(lit(1)).as("n_all"), sum(col("a_hash")).as("m_hash"),
      sum(col("a_len")).as("m_len"), sum(col("a_pfx")).as("m_pfx"))
    val pat = pairs.groupBy(col("a_hash"), col("a_len"), col("a_pfx"))
      .agg(count(lit(1)).as("n_pairs"))
    def factor(a: String, m: String): Column =
      when(col(a) === 1L, col(m)).otherwise(col("n_all") - col(m))
        .cast(DecimalType(12, 0))
    pat.crossJoin(broadcast(marg))
      .withColumn("prod",
        factor("a_hash", "m_hash") * factor("a_len", "m_len") * factor("a_pfx", "m_pfx"))
      .withColumn("n_all2",
        col("n_all").cast(DecimalType(12, 0)) * col("n_all").cast(DecimalType(12, 0)))
      .select(
        concat(col("a_hash").cast("string"), col("a_len").cast("string"),
          col("a_pfx").cast("string")).as("pattern"),
        col("n_pairs"),
        expr("prod * 1000000 div n_all2").as("expected_ppm"),
        expr("n_pairs * n_all2 * 1000000 div prod").as("lift_ppm"))
      .orderBy(col("pattern"))
  }

  val q288Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, source, n_chars, n_chars // 20 AS blk,
      |    md5(text) AS h, substr(text, 1, 12) AS pfx
      |  FROM documents),
      |p AS (
      |  SELECT CASE WHEN a.h = b.h THEN 1 ELSE 0 END AS a_hash,
      |         CASE WHEN a.n_chars = b.n_chars THEN 1 ELSE 0 END AS a_len,
      |         CASE WHEN a.pfx = b.pfx THEN 1 ELSE 0 END AS a_pfx
      |  FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
      |    AND a.blk = b.blk AND a.doc_id < b.doc_id),
      |m AS (SELECT count(*) AS n_all, CAST(sum(a_hash) AS BIGINT) AS m_hash,
      |    CAST(sum(a_len) AS BIGINT) AS m_len, CAST(sum(a_pfx) AS BIGINT) AS m_pfx FROM p),
      |g AS (SELECT a_hash, a_len, a_pfx, count(*) AS n_pairs FROM p GROUP BY 1, 2, 3),
      |j AS (SELECT g.*, m.n_all,
      |    CAST(CASE WHEN a_hash = 1 THEN m_hash ELSE n_all - m_hash END AS HUGEINT)
      |      * (CASE WHEN a_len = 1 THEN m_len ELSE n_all - m_len END)
      |      * (CASE WHEN a_pfx = 1 THEN m_pfx ELSE n_all - m_pfx END) AS prod
      |  FROM g CROSS JOIN m)
      |SELECT CAST(a_hash AS VARCHAR) || CAST(a_len AS VARCHAR) || CAST(a_pfx AS VARCHAR) AS pattern,
      |  n_pairs,
      |  CAST(prod * 1000000 // (CAST(n_all AS HUGEINT) * n_all) AS BIGINT) AS expected_ppm,
      |  CAST(CAST(n_pairs AS HUGEINT) * n_all * n_all * 1000000 // prod AS BIGINT) AS lift_ppm
      |FROM j ORDER BY pattern""".stripMargin

  // --------------------------------------------------------------- q289

  /** q289: Zipf mass-by-log-decade profile — the rank-frequency
    * complement to the Heaps vocabulary-growth curve (q244). Under
    * Zipf's law with exponent s = 1 (f_r ∝ 1/r), each log-decade of
    * ranks carries ~equal total frequency mass (sum over a decade of
    * C/r ≈ C·ln 10), so the decade-mass profile is a transcendental-free
    * Zipf diagnostic: flat masses ⇒ s ≈ 1, front-loaded ⇒ s > 1 (boiler-
    * plate-heavy corpora), tail-heavy ⇒ s < 1. The decade of a rank is
    * `len(str(rank)) - 1` — exact in both engines, no log10 at 10^k
    * boundaries to land a ulp off.
    *
    * Scale shape: wordcount aggregation (explode → partial agg → one
    * term-key shuffle), then decades 0-3 from the top-9999 terms via
    * sort+limit (TakeOrderedAndProject — map-side prunable) and the
    * bounded-rank window; everything past rank 9999 is aggregated into
    * one 'tail' row from the global totals (1-row broadcasts), so no
    * unbounded global window ever forms.
    */
  def q289_zipf_decades(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val terms = d.select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
    val stats = terms.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val top = stats.orderBy(col("tf").desc, col("term")).limit(9999)
    val w = graft.ops.Ranks.bounded(col("term"), col("tf").desc, col("term"))
    val ranked = top.withColumn("rank", row_number().over(w))
      .withColumn("decade", (length(col("rank").cast("string")) - 1).cast("string"))
    val topAgg = ranked.groupBy(col("decade"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("mass"))
    val totals = stats.agg(sum(col("tf")).as("total_mass"), count(lit(1)).as("vocab"))
    val topSums = ranked.agg(
      coalesce(sum(col("tf")), lit(0L)).as("top_mass"), count(lit(1)).as("top_terms"))
    val tail = totals.crossJoin(broadcast(topSums)).select(
      lit("tail").as("decade"),
      (col("vocab") - col("top_terms")).as("n_terms"),
      (col("total_mass") - col("top_mass")).as("mass"))
    topAgg.unionByName(tail)
      .crossJoin(broadcast(totals.select(col("total_mass"))))
      .select(col("decade"), col("n_terms"), col("mass"),
        expr("mass * 1000000 div total_mass").as("mass_ppm"))
      .orderBy(col("decade"))
  }

  val q289Sql: String =
    """WITH terms AS (
      |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      |stats AS (SELECT term, count(*) AS tf FROM terms
      |  WHERE length(term) > 0 GROUP BY term),
      |ranked AS (SELECT term, tf,
      |    row_number() OVER (ORDER BY tf DESC, term) AS rank
      |  FROM stats QUALIFY rank <= 9999),
      |dec AS (SELECT CAST(length(CAST(rank AS VARCHAR)) - 1 AS VARCHAR) AS decade,
      |    count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS mass
      |  FROM ranked GROUP BY 1),
      |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total_mass, count(*) AS vocab FROM stats),
      |tops AS (SELECT CAST(coalesce(sum(tf), 0) AS BIGINT) AS top_mass,
      |    count(*) AS top_terms FROM ranked),
      |tail AS (SELECT 'tail' AS decade, vocab - top_terms AS n_terms,
      |    total_mass - top_mass AS mass FROM tot CROSS JOIN tops),
      |un AS (SELECT * FROM dec UNION ALL SELECT * FROM tail)
      |SELECT decade, n_terms, mass, mass * 1000000 // total_mass AS mass_ppm
      |FROM un CROSS JOIN (SELECT total_mass FROM tot) t
      |ORDER BY decade""".stripMargin

  // --------------------------------------------------------------- q290

  /** q290: IVF list-utilization audit from the PERSISTED index — the
    * index-health report a serving pipeline runs per ingest batch: every
    * corpus vector is assigned to its nearest centroid by the model that
    * came back from [[graft.ext.ModelStore]] (q285's loaded twin), and
    * the per-list occupancy, corpus share (ppm), and skew vs the uniform
    * 1/nlist target are reported. Skewed lists are the IVF failure mode
    * (hot lists → probe cost, empty lists → wasted nprobe), and the
    * DuckDB mirror re-derives every assignment from the freshly-TRAINED
    * centroid literals — so this row also extends the persisted==trained
    * gate to the full-corpus assignment path (q285 exercises only the
    * probe set and its candidate lists).
    *
    * Scale shape: one scan, an nlist-way codegen'd argmin per row (the
    * q38/q93 assignment expression), one 16-key aggregation, a 1-row
    * broadcast — no joins, no windows.
    */
  def q290_ivf_utilization(s: SparkSession, dir: String): DataFrame = {
    val (ivf, _, _, _) = ExtensionQueries64.loadedModels(s, dir)
    val nlist = ivf.centroids.length
    val assigned = Tables.embeddings(s, dir)
      .select(graft.ext.IvfIndex.listId(ivf,
        graft.ext.Similarity.toDouble(col("embedding"))).as("list"))
    val counts = assigned.groupBy(col("list")).agg(count(lit(1)).as("n_vecs"))
    val tot = counts.agg(sum(col("n_vecs")).as("tot"))
    counts.crossJoin(broadcast(tot))
      .select(col("list").cast("int").as("list"), col("n_vecs"),
        expr("n_vecs * 1000000 div tot").as("share_ppm"),
        expr(s"n_vecs * 1000000 div tot - 1000000 div $nlist").as("skew_ppm"))
      .orderBy(col("list"))
  }

  /** Mirror from the TRAINED centroids (never the loaded model — the
    * store sits between the two sides). Assignment argmin is the q93
    * `row_number ORDER BY dist, ci` idiom; the distance is the same
    * in-order fold as the Spark codegen expression.
    */
  def q290SqlFor(ivf: graft.ext.IvfIndex.Model): String = {
    import ExtensionQueries6.dLit
    val nlist = ivf.centroids.length
    val cents = ivf.centroids.zipWithIndex
      .map { case (c, i) => s"($i, " + c.map(dLit).mkString("CAST([", ", ", "] AS DOUBLE[]))") }
      .mkString(",\n  ")
    val centDist =
      "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        "list_transform(range(1, len(cvec)+1), uq_i -> (cvec[uq_i] - cv[uq_i]) * (cvec[uq_i] - cv[uq_i]))), " +
        "(uq_x, uq_y) -> uq_x + uq_y)"
    s"""WITH cent(ci, cv) AS (VALUES
       |  $cents),
       |c AS (SELECT vec_id, list_transform(range(1, len(embedding)+1),
       |  uv_i -> CAST(embedding[uv_i] AS DOUBLE)) AS cvec FROM embeddings),
       |ca AS (SELECT vec_id, ci AS list FROM (
       |  SELECT vec_id, ci,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY $centDist, ci) AS rn
       |  FROM c CROSS JOIN cent) WHERE rn = 1),
       |g AS (SELECT list, count(*) AS n_vecs FROM ca GROUP BY list),
       |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS tot FROM g)
       |SELECT CAST(list AS INT) AS list, n_vecs,
       |  n_vecs * 1000000 // tot AS share_ppm,
       |  n_vecs * 1000000 // tot - 1000000 // $nlist AS skew_ppm
       |FROM g CROSS JOIN t ORDER BY list""".stripMargin
  }

  val entries: Seq[Query] = Seq(
    Query("q288_linkage_patterns", q288_linkage_patterns _, q288Sql),
    Query("q289_zipf_decades", q289_zipf_decades _, q289Sql),
    // the q285 pattern: the TRAINED index's literals, never the loaded copy
    Query("q290_ivf_utilization", q290_ivf_utilization _, Oracle.Model(d =>
      ExtensionQueries6.trainedIvf(d).map(q290SqlFor)))
  )
}
