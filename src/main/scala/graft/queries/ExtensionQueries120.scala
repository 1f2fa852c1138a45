package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-15 batch 3: corpus diagnostics a training-data pipeline reads
  * before mixing — memorization risk, lexical richness, and per-source
  * distributional drift.
  *
  *  - q443 cross-document duplicate 8-gram rate (the Lee et al.
  *    dedup-diagnostic READOUT, where q103's span dedup is the
  *    remediation): per language, the share of 8-gram INSTANCES whose
  *    exact gram string occurs in ≥2 distinct documents — the
  *    memorization-risk number that decides whether span dedup is
  *    worth running on a source.
  *  - q444 lexical richness per source: types, tokens, hapax legomena
  *    (once-only types), TTR and hapax share in exact ppm — the
  *    Heaps-law companion (q244) at the source grain where mixing
  *    decisions happen.
  *  - q445 token-length profile drift: total-variation distance
  *    between each source's token-length histogram and the corpus
  *    profile, exact via the common-denominator identity
  *    TV_ppm = Σ_ℓ |c_sℓ·N − C_ℓ·N_s| · 10⁶ div (2·N_s·N) — ONE
  *    integer division, zero cells included via the length grid.
  *    The cheap first-alarm for a source drifting from the mix
  *    (embedding drift q355 is the expensive confirmatory).
  *
  * Scale shapes: all three are explode → one keyed rollup (gram /
  * token / length) → a bounded per-group frame; no pairwise work
  * anywhere. The 8-gram key shuffles the token stream once — the same
  * shape as the shingle tier; at 100 TB it hash-partitions on gram
  * exactly like q26.
  */
object ExtensionQueries120 extends QueryGroup {

  // -------------------------------------------------------------- q443

  /** q443: per-lang duplicate 8-gram exposure. Instances = all 8-token
    * windows (docs with ≥8 tokens); an instance is DUPLICATED when its
    * exact gram appears in ≥2 distinct docs of the same language.
    * dup_ppm = dup_instances·10⁶ div instances.
    */
  def q443_dup_ngram_rate(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 8)
    val grams = toks.select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, size(ts) - 7), " +
          "i -> array_join(slice(ts, i, 8), ' '))")).as("g"))
    val perGram = grams.groupBy(col("lang"), col("g"))
      .agg(count(lit(1)).as("inst"), countDistinct(col("doc_id")).as("docs"))
    perGram.groupBy(col("lang"))
      .agg(sum(col("inst")).as("n_instances"),
        sum(when(col("docs") >= 2, col("inst")).otherwise(0L)).as("n_dup_instances"),
        count(lit(1)).as("n_distinct_grams"))
      .select(col("lang"), col("n_instances"), col("n_dup_instances"),
        col("n_distinct_grams"),
        expr("n_dup_instances * 1000000 div n_instances").as("dup_ppm"))
      .orderBy(col("lang"))
  }

  val q443Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8
      |), grams AS (
      |  SELECT doc_id, lang,
      |    unnest(list_transform(range(1, len(ts) - 6),
      |      i -> array_to_string(list_slice(ts, i, i + 7), ' '))) AS g
      |  FROM toks
      |), per_gram AS (
      |  SELECT lang, g, count(*) AS inst, count(DISTINCT doc_id) AS docs
      |  FROM grams GROUP BY lang, g
      |)
      |SELECT lang, CAST(sum(inst) AS BIGINT) AS n_instances,
      |  CAST(sum(CASE WHEN docs >= 2 THEN inst ELSE 0 END) AS BIGINT)
      |    AS n_dup_instances,
      |  count(*) AS n_distinct_grams,
      |  CAST(sum(CASE WHEN docs >= 2 THEN inst ELSE 0 END) AS BIGINT) * 1000000
      |    // CAST(sum(inst) AS BIGINT) AS dup_ppm
      |FROM per_gram GROUP BY lang
      |ORDER BY lang""".stripMargin

  // -------------------------------------------------------------- q444

  /** q444: per-source types / tokens / hapax with TTR and hapax share
    * in ppm — one token rollup, one source rollup. */
  def q444_lexical_richness(s: SparkSession, dir: String): DataFrame = {
    val tc = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    tc.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
        expr("n_hapax * 1000000 div n_types").as("hapax_ppm"))
      .orderBy(col("source"))
  }

  val q444Sql: String =
    """WITH tc AS (
      |  SELECT source, tok, count(*) AS c FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
      |  ) GROUP BY source, tok
      |)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  count(*) AS n_types,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  count(*) * 1000000 // CAST(sum(c) AS BIGINT) AS ttr_ppm,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
      |    // count(*) AS hapax_ppm
      |FROM tc GROUP BY source
      |ORDER BY source""".stripMargin

  // -------------------------------------------------------------- q445

  /** q445: per-source token-length TV distance from the corpus profile,
    * exact: TV_ppm = Σ_ℓ |c_sℓ·N − C_ℓ·N_s| · 10⁶ div (2·N_s·N) — the
    * absolute sum stays integral (common denominator), one division at
    * the end. The source×length grid is explicit so absent lengths
    * contribute their full corpus mass.
    */
  def q445_length_profile_drift(s: SparkSession, dir: String): DataFrame = {
    val lens = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .select(col("source"), length(col("tok")).cast("long").as("l"))
    val cell = lens.groupBy(col("source"), col("l")).agg(count(lit(1)).as("c_sl"))
    val corpus = cell.groupBy(col("l")).agg(sum(col("c_sl")).as("c_l"))
    val perSrc = cell.groupBy(col("source")).agg(sum(col("c_sl")).as("n_s"))
    val nTot = corpus.agg(sum(col("c_l")).as("n"))
    val grid = perSrc.crossJoin(broadcast(corpus))
      .join(cell, Seq("source", "l"), "left")
      .select(col("source"), col("n_s"), col("c_l"),
        coalesce(col("c_sl"), lit(0L)).as("c_sl"))
    grid.crossJoin(broadcast(nTot))
      .groupBy(col("source"), col("n_s"), col("n"))
      .agg(sum(expr("abs(CAST(c_sl AS DECIMAL(38,0)) * n - CAST(c_l AS DECIMAL(38,0)) * n_s)"))
        .as("absdev"))
      .select(col("source"), col("n_s").as("n_tokens"),
        expr("CAST(absdev * 1000000 div (2 * CAST(n_s AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("tv_ppm"))
      .orderBy(col("source"))
  }

  val q445Sql: String =
    """WITH lens AS (
      |  SELECT source, CAST(length(tok) AS BIGINT) AS l FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
      |  )
      |), cell AS (
      |  SELECT source, l, count(*) AS c_sl FROM lens GROUP BY source, l
      |), corpus AS (SELECT l, CAST(sum(c_sl) AS BIGINT) AS c_l FROM cell GROUP BY l),
      |per_src AS (SELECT source, CAST(sum(c_sl) AS BIGINT) AS n_s FROM cell GROUP BY source),
      |nt AS (SELECT CAST(sum(c_l) AS BIGINT) AS n FROM corpus),
      |grid AS (
      |  SELECT p.source, p.n_s, c.l, c.c_l, coalesce(x.c_sl, 0) AS c_sl
      |  FROM per_src p CROSS JOIN corpus c
      |  LEFT JOIN cell x ON x.source = p.source AND x.l = c.l
      |)
      |SELECT g.source, g.n_s AS n_tokens,
      |  CAST(sum(abs(CAST(g.c_sl AS HUGEINT) * nt.n - CAST(g.c_l AS HUGEINT) * g.n_s))
      |    * 1000000 // (2 * CAST(g.n_s AS HUGEINT) * nt.n) AS BIGINT) AS tv_ppm
      |FROM grid g CROSS JOIN nt
      |GROUP BY g.source, g.n_s, nt.n
      |ORDER BY g.source""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q443_dup_ngram_rate", q443_dup_ngram_rate _, q443Sql),
    Query("q444_lexical_richness", q444_lexical_richness _, q444Sql),
    Query("q445_length_profile_drift", q445_length_profile_drift _, q445Sql)
  )
}
