package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.Dedup
import graft.ops.PrefixScan

/** Corpus-composition diagnostics a training-data
  * pipeline reads before (de)duplicating or mixing — how fast new data
  * stops being new, what a dedup threshold would actually remove, how
  * non-Poisson the traffic is, and how much of each source exists
  * nowhere else.
  *
  *  - q456 corpus novelty decay: per ingestion-order decile, the
  *    fraction of (doc, 3-shingle) pairs whose shingle was never seen
  *    in an earlier doc — the marginal-value curve of continued
  *    crawling (Heaps' law q244 gives the aggregate exponent; this is
  *    the operational per-decile readout).
  *  - q457 dedup threshold sensitivity: for the exact n-gram Jaccard
  *    pairs (q26's inverted index), how many pairs and how many docs
  *    each policy threshold J ≥ {0.5..0.9} would implicate — the dial
  *    a dedup rollout turns, read BEFORE committing to one (q161
  *    sweeps LSH band geometry; this sweeps the exact-J policy).
  *  - q458 Fisher index of dispersion (variance-to-mean, milli) for
  *    events-per-user and events-per-day — the Poisson-null
  *    overdispersion check that decides whether count models (and
  *    q375-style binomial CIs) are even applicable.
  *  - q459 source-exclusive content (leave-one-source-out OOV at the
  *    3-gram level): per source, the share of its shingle instances
  *    whose shingle occurs in NO other source — the irreplaceability
  *    argument for keeping a source in the mix (q146 measures
  *    diversity of sources per lang; unigram vocabulary is fully
  *    shared in this corpus, so the 3-gram context is the unit).
  *
  * Scale shapes: q456/q459 are explode → keyed rollup → equi-join-back
  * (hash-partitioned on gram/token, the q26/q443 shape, linear); q457
  * rides q26's capped inverted index and a 5-row threshold grid; q458
  * is two one-row aggregates. No pairwise work outside the capped pair
  * index; products of counts ride DECIMAL(38,0) (HUGEINT mirror).
  */
object ExtensionQueries124 extends QueryGroup {

  // -------------------------------------------------------------- q456

  /** q456: deciles by doc_id rank among shingle-bearing docs (≥3
    * tokens); a (doc, distinct-shingle) pair is NOVEL iff doc_id =
    * min doc_id containing that shingle (first-occurrence convention;
    * repeats inside one doc collapse via array_distinct, exactly like
    * q26's index build). novel_ppm truncates per decile.
    *
    * Plan note: decile is MONOTONE in doc_id, so "decile of the first
    * occurrence" = min(decile) per shingle — novelty needs ONE keyed
    * aggregation of the instance stream, never the instance-level
    * join-back to a first-occurrence table (the first cut did that
    * join and paid 11.8 s / kc 1.09 at sf0.1; this shape re-measured
    * 1.2 s / kc 0.05 — the join-back WAS the cost).
    */
  def q456_novelty_decay(s: SparkSession, dir: String): DataFrame = {
    val withShs = Tables.documents(s, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), array_distinct(Dedup.shingleHashes(col("text"), 3)).as("shs"))
    val ranked = PrefixScan.prefixSumsInclusive(withShs, 16,
      Seq(col("doc_id")), Seq((lit(1L), "i")))
    val n = withShs.agg(count(lit(1)).as("n"))
    val deciled = ranked.crossJoin(broadcast(n))
      .select(expr("(i - 1) * 10 div n").as("decile"), explode(col("shs")).as("sh"))
    val nGrams = deciled.groupBy(col("decile")).agg(count(lit(1)).as("n_grams"))
    val novel = deciled.groupBy(col("sh")).agg(min(col("decile")).as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("novel"))
    nGrams.join(novel, Seq("decile"), "left")
      .select(col("decile"), col("n_grams"),
        coalesce(col("novel"), lit(0L)).as("novel"),
        expr("coalesce(novel, CAST(0 AS BIGINT)) * 1000000 div n_grams").as("novel_ppm"))
      .orderBy(col("decile"))
  }

  val q456Sql: String =
    s"""WITH sh0 AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    list_transform(range(1, len(string_split(text,' ')) - 1),
       |      sh_i -> array_to_string(list_slice(string_split(text,' '), sh_i, sh_i + 2), ' ')),
       |    sh_s -> ${QueryBlocks.phSql("sh_s")}))) AS sh
       |  FROM documents WHERE len(string_split(text,' ')) >= 3
       |), ranked AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS i
       |  FROM (SELECT DISTINCT doc_id FROM sh0)
       |), nt AS (SELECT count(*) AS n FROM ranked),
       |deciled AS (
       |  SELECT (r.i - 1) * 10 // nt.n AS decile, sh0.sh
       |  FROM sh0 JOIN ranked r ON sh0.doc_id = r.doc_id, nt
       |), ng AS (
       |  SELECT decile, count(*) AS n_grams FROM deciled GROUP BY decile
       |), nov AS (
       |  SELECT decile, count(*) AS novel FROM (
       |    SELECT sh, min(decile) AS decile FROM deciled GROUP BY sh)
       |  GROUP BY decile
       |)
       |SELECT ng.decile, ng.n_grams,
       |  coalesce(nov.novel, 0) AS novel,
       |  coalesce(nov.novel, 0) * 1000000 // ng.n_grams AS novel_ppm
       |FROM ng LEFT JOIN nov ON ng.decile = nov.decile
       |ORDER BY ng.decile""".stripMargin

  // -------------------------------------------------------------- q457

  /** q457: per policy threshold t ∈ {0.5, 0.6, 0.7, 0.8, 0.9} (ppm),
    * the exact-Jaccard pairs at j_ppm ≥ t, the distinct docs they
    * implicate, and that doc share of the whole corpus (ppm); j_ppm =
    * inter·10⁶ div (na + nb − inter) keeps the sweep integer-exact.
    *
    * Pair generator (shared with q464/q478): every threshold in the
    * grid is ≥ 0.5, so the FULL sub-cap pair index (measured
    * ~quadratic at the sf1x rung) would be the wrong generator; pairs
    * come from the PPJoin prefix-filtered exact
    * join at t = 0.5 ([[graft.ext.SetSimJoin.jaccardJoin]]) — identical
    * pair set over exact string shingles, candidate mass tracking true
    * near-dup mass.
    */
  def q457_dedup_threshold_sweep(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    // shared staged frame: q109/q457/q464/q478 consume the
    // IDENTICAL t = 0.5 PPJoin pair frame; first consumer computes, the
    // rest replay the staged parquet (Bench lists all four as memoized)
    val pairs = ExtensionQueries9.ppjoinPairsStaged(s, dir)
      .select(col("id_a"), col("id_b"), col("jacc_ppm").as("j_ppm"))
    val grid = s.range(5, 10).select((col("id") * 100000L).as("t"))
    val hits = pairs.crossJoin(broadcast(grid)).filter(col("j_ppm") >= col("t"))
    val nPairs = hits.groupBy(col("t")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = hits.select(col("t"), explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct().groupBy(col("t")).agg(count(lit(1)).as("n_docs"))
    val total = d.agg(count(lit(1)).as("n_total"))
    grid.join(nPairs, Seq("t"), "left").join(nDocs, Seq("t"), "left")
      .crossJoin(broadcast(total))
      .select(col("t").as("threshold_ppm"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        expr("coalesce(n_docs, CAST(0 AS BIGINT)) * 1000000 div n_total").as("docs_ppm"))
      .orderBy(col("threshold_ppm"))
  }

  val q457Sql: String =
    s"""WITH sh AS MATERIALIZED (
       |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
       |    range(1, len(string_split(text,' ')) - 1),
       |    sh_i -> array_to_string(list_slice(string_split(text,' '), sh_i, sh_i + 2), ' ')))) AS sh
       |  FROM documents WHERE len(string_split(text,' ')) >= 3
       |), sizes AS (
       |  SELECT id, count(*) AS nsh FROM sh GROUP BY id
       |), pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2
       |), jp AS (
       |  SELECT id_a, id_b,
       |    CAST(inter AS BIGINT) * 1000000 // (na.nsh + nb.nsh - inter) AS j_ppm
       |  FROM pairs JOIN sizes na ON id_a = na.id JOIN sizes nb ON id_b = nb.id
       |  WHERE CAST(inter AS BIGINT) * 1000000 >= 500000 * (na.nsh + nb.nsh - inter)
       |), grid AS (SELECT unnest(range(5, 10)) * 100000 AS t),
       |hits AS (
       |  SELECT g.t, jp.id_a, jp.id_b FROM jp JOIN grid g ON jp.j_ppm >= g.t
       |), np AS (SELECT t, count(*) AS n_pairs FROM hits GROUP BY t),
       |ndd AS (
       |  SELECT t, count(*) AS n_docs FROM (
       |    SELECT DISTINCT t, id FROM (
       |      SELECT t, id_a AS id FROM hits
       |      UNION ALL SELECT t, id_b FROM hits))
       |  GROUP BY t
       |), tot AS (SELECT count(*) AS n_total FROM documents)
       |SELECT g.t AS threshold_ppm,
       |  coalesce(np.n_pairs, 0) AS n_pairs,
       |  coalesce(ndd.n_docs, 0) AS n_docs,
       |  coalesce(ndd.n_docs, 0) * 1000000 // tot.n_total AS docs_ppm
       |FROM grid g LEFT JOIN np ON g.t = np.t LEFT JOIN ndd ON g.t = ndd.t, tot
       |ORDER BY threshold_ppm""".stripMargin

  // -------------------------------------------------------------- q458

  /** q458: Fisher index of dispersion I = s²/x̄ in milli, exact:
    * I_milli = (n·Σx² − (Σx)²)·1000 div ((n−1)·Σx), for events-per-user
    * and events-per-day. I ≈ 1000 is Poisson; the gap is the
    * overdispersion a count model must absorb.
    */
  def q458_dispersion_index(s: SparkSession, dir: String): DataFrame = {
    def idx(unit: String, keyed: DataFrame): DataFrame =
      keyed.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
        .select(lit(unit).as("unit"), col("n"), col("sx").as("total"),
          expr("CAST((n * sxx - CAST(sx AS DECIMAL(38,0)) * sx) * 1000 " +
            "div ((n - 1) * CAST(sx AS DECIMAL(38,0))) AS BIGINT)").as("dispersion_milli"))
    val ev = Tables.events(s, dir)
    val byUser = ev.groupBy(col("user_id")).agg(count(lit(1)).as("x"))
    val byDay = ev.groupBy(expr("ts div 1000 div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    idx("day", byDay).unionAll(idx("user", byUser)).orderBy(col("unit"))
  }

  val q458Sql: String =
    """WITH by_user AS (
      |  SELECT user_id, count(*) AS x FROM events GROUP BY 1
      |), by_day AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS x
      |  FROM events GROUP BY 1
      |), u AS (
      |  SELECT 'user' AS unit, count(*) AS n, CAST(sum(x) AS BIGINT) AS total,
      |    CAST((count(*) * CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT)
      |      - CAST(sum(x) AS HUGEINT) * sum(x)) * 1000
      |      // ((count(*) - 1) * CAST(sum(x) AS HUGEINT)) AS BIGINT)
      |      AS dispersion_milli
      |  FROM by_user
      |), d AS (
      |  SELECT 'day' AS unit, count(*) AS n, CAST(sum(x) AS BIGINT) AS total,
      |    CAST((count(*) * CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT)
      |      - CAST(sum(x) AS HUGEINT) * sum(x)) * 1000
      |      // ((count(*) - 1) * CAST(sum(x) AS HUGEINT)) AS BIGINT)
      |      AS dispersion_milli
      |  FROM by_day
      |)
      |SELECT * FROM d UNION ALL SELECT * FROM u ORDER BY unit""".stripMargin

  // -------------------------------------------------------------- q459

  /** q459: per source — distinct 3-shingles, (doc, distinct-shingle)
    * instances, instances of shingles occurring in NO other source
    * (exclusive), and exclusive_ppm = exclusive·10⁶ div instances —
    * how much of a source's CONTENT exists nowhere else (unigram
    * vocabulary is fully shared in this corpus; 3-gram context is
    * what discriminates). "Other sources" is a shingle-level source
    * count off one rollup, never a pairwise source comparison.
    */
  def q459_source_oov_rate(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(s, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("source"),
        explode(array_distinct(Dedup.shingleHashes(col("text"), 3))).as("sh"))
    val cells = sh.groupBy(col("sh"), col("source"))
      .agg(count(lit(1)).as("cnt"))
    val spread = cells.groupBy(col("sh"))
      .agg(count(lit(1)).as("n_sources"))
    cells.join(spread, Seq("sh"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"), sum(col("cnt")).as("instances"),
        sum(when(col("n_sources") === 1, col("cnt")).otherwise(0L)).as("exclusive"))
      .select(col("source"), col("n_shingles"), col("instances"), col("exclusive"),
        expr("exclusive * 1000000 div instances").as("exclusive_ppm"))
      .orderBy(col("source"))
  }

  val q459Sql: String =
    s"""WITH sh0 AS (
       |  SELECT source, doc_id, unnest(list_distinct(list_transform(
       |    list_transform(range(1, len(string_split(text,' ')) - 1),
       |      sh_i -> array_to_string(list_slice(string_split(text,' '), sh_i, sh_i + 2), ' ')),
       |    sh_s -> ${QueryBlocks.phSql("sh_s")}))) AS sh
       |  FROM documents WHERE len(string_split(text,' ')) >= 3
       |), cells AS (
       |  SELECT sh, source, count(*) AS cnt FROM sh0 GROUP BY 1, 2
       |), spread AS (
       |  SELECT sh, count(*) AS n_sources FROM cells GROUP BY sh
       |)
       |SELECT c.source, count(*) AS n_shingles,
       |  CAST(sum(c.cnt) AS BIGINT) AS instances,
       |  CAST(sum(CASE WHEN s.n_sources = 1 THEN c.cnt ELSE 0 END)
       |    AS BIGINT) AS exclusive,
       |  CAST(sum(CASE WHEN s.n_sources = 1 THEN c.cnt ELSE 0 END) AS BIGINT)
       |    * 1000000 // CAST(sum(c.cnt) AS BIGINT) AS exclusive_ppm
       |FROM cells c JOIN spread s ON c.sh = s.sh
       |GROUP BY c.source ORDER BY c.source""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q456_novelty_decay", q456_novelty_decay _, q456Sql),
    Query("q457_dedup_threshold_sweep", q457_dedup_threshold_sweep _, q457Sql),
    Query("q458_dispersion_index", q458_dispersion_index _, q458Sql),
    Query("q459_source_oov_rate", q459_source_oov_rate _, q459Sql)
  )
}
