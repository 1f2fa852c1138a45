package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{CacheScope, Tables}
import graft.ext.{Dedup, TextAnalysis}

/** Sequence islands, a dedup-quality eval harness, and
  * streaming anomaly detection.
  *
  *  - q156: longest same-type event streaks — gaps-and-islands, the
  *    sequential-pattern primitive windows alone can't phrase.
  *  - q157: LSH banding quality — precision/recall of the q29 candidate
  *    generator against exact q26 Jaccard ground truth, as integer ppm.
  *  - q158: rolling z-score anomaly alerts — the batch formulation of
  *    [[graft.streaming.StreamOps.rollingZscoreAlerts]] (streaming ==
  *    batch pinned in StreamingSpec; batch == DuckDB here).
  */
object ExtensionQueries20 extends QueryGroup {

  // --------------------------------------------------------------- q156

  /** q156: longest streaks of consecutive same-type events per user —
    * gaps-and-islands via the rank-difference identity (global per-user
    * rank − per-(user, type) rank is constant exactly within a maximal
    * run). Top 10 streaks, pinned deterministic by (len, user, island
    * head event).
    *
    * Scale shape: ONE exchange — both windows and the island aggregate
    * key on user_id prefixes (hash(user) satisfies the (user, type)
    * clustering, so Catalyst inserts sorts, not shuffles); the island id
    * is pure arithmetic on the two row_numbers; top-10 is
    * TakeOrderedAndProject. No global window anywhere.
    */
  def q156_event_streaks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wt = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("island",
        row_number().over(w).cast("long") - row_number().over(wt).cast("long"))
      .groupBy(col("user_id"), col("event_type"), col("island"))
      .agg(count(lit(1)).as("streak"),
        min(struct(col("us"), col("event_id"))).getField("event_id").as("start_id"))
      .select(col("user_id"), col("event_type"), col("streak"), col("start_id"))
      .orderBy(col("streak").desc, col("user_id"), col("start_id"))
      .limit(10)
  }

  val q156Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
      |), r AS (
      |  SELECT user_id, event_id, event_type, us,
      |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      - row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY us, event_id) AS island
      |  FROM f
      |), isl AS (
      |  SELECT user_id, event_type, island, count(*) AS streak
      |  FROM r GROUP BY user_id, event_type, island
      |), starts AS (
      |  SELECT user_id, event_type, island, event_id AS start_id
      |  FROM (
      |    SELECT user_id, event_type, island, event_id,
      |      row_number() OVER (PARTITION BY user_id, event_type, island
      |                         ORDER BY us, event_id) AS rn
      |    FROM r
      |  ) WHERE rn = 1
      |)
      |SELECT user_id, event_type, streak, start_id
      |FROM isl JOIN starts USING (user_id, event_type, island)
      |ORDER BY streak DESC, user_id, start_id
      |LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q157

  /** q157: LSH banding quality certificate. Ground truth = exact shingle
    * Jaccard ≥ 0.5 over the q29 universe (docs + doctored near-copies,
    * via the q26 inverted-index join — never all-pairs); prediction =
    * the raw 16-band MinHash candidate set (no est-filter — this grades
    * the BANDING itself). Reports |truth|, |candidates|, their overlap,
    * and precision/recall in exact integer ppm — the eval harness that
    * tells you whether a cheaper band geometry can replace the exact
    * join at corpus scale.
    *
    * Scale shape: both sides are index joins keyed by (shingle) /
    * (band, key); the intersection is an equi-join on (id_a, id_b); the
    * three counts ride as 1-row broadcasts folded in one projection.
    */
  def q157_lsh_quality(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val d = Tables.documents(s, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
      .filter(size(toks) >= 8)
    val doctored = d.select((col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 5, lit(3)))).as("text"))
    val all = CacheScope.scoped(d.union(doctored))
    val truth = CacheScope.scoped(
      Dedup.jaccardPairs(all, "doc_id", col("text"), 3)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b")))
    val withSig = all.withColumn("hashes", Dedup.shingleHashes(col("text"), 3))
      .select(col("doc_id"), Dedup.minhashFromHashes(col("hashes"), 64).as("sig"))
    val cand = CacheScope.scoped(Dedup.lshCandidates(withSig, "doc_id", col("sig"), 16))
    val hit = cand.join(truth, Seq("id_a", "id_b"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        expr("n_hit * 1000000 div n_cand").as("precision_ppm"),
        expr("n_hit * 1000000 div n_truth").as("recall_ppm"))
  }

  val q157Sql: String = {
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
       |    sh_s -> ${QueryBlocks.phSql("sh_s")}) AS hashes
       |  FROM allv
       |), shd AS (
       |  SELECT doc_id AS id, unnest(list_distinct(hashes)) AS sh FROM hs
       |), sizes AS (
       |  SELECT id, count(*) AS nsh FROM shd GROUP BY id
       |), hot AS (
       |  SELECT sh FROM shd GROUP BY sh HAVING count(*) > 1000
       |), shc AS (
       |  SELECT id, shd.sh FROM shd LEFT JOIN hot ON shd.sh = hot.sh
       |  WHERE hot.sh IS NULL
       |), tp AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2
       |), truth AS (
       |  SELECT id_a, id_b FROM tp
       |  JOIN sizes na ON id_a = na.id
       |  JOIN sizes nb ON id_b = nb.id
       |  WHERE CAST(inter AS DOUBLE) / (na.nsh + nb.nsh - inter) >= 0.5
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
       |), hit AS (
       |  SELECT id_a FROM cand JOIN truth USING (id_a, id_b)
       |)
       |SELECT
       |  (SELECT count(*) FROM truth) AS n_truth,
       |  (SELECT count(*) FROM cand) AS n_cand,
       |  (SELECT count(*) FROM hit) AS n_hit,
       |  (SELECT count(*) FROM hit) * 1000000 // (SELECT count(*) FROM cand)
       |    AS precision_ppm,
       |  (SELECT count(*) FROM hit) * 1000000 // (SELECT count(*) FROM truth)
       |    AS recall_ppm""".stripMargin
  }

  // --------------------------------------------------------------- q158

  /** q158: rolling z-score anomaly alerts — the batch window formulation
    * of the streaming detector ([[graft.streaming.StreamOps
    * .rollingZscoreAlerts]]): an event alerts when it deviates more than
    * 3σ from the mean of the previous ≤100 same-scope events, with the
    * 3σ test as the cross-multiplied integer inequality
    * `(n·x − S)² > 9·(n·SS − S²)` — no float μ/σ to diverge between
    * engines or between the batch and streaming forms.
    *
    * Scale shape: one bounded-frame window pass (ROWS BETWEEN 100
    * PRECEDING AND 1 PRECEDING keeps running state, not the partition);
    * the scope key is this table's metric dimension (event_type — 5
    * keys; at fleet scale the scope is (tenant, metric) and the same
    * plan partitions by that key). Bound: n ≤ 100, cents < 2²⁶ → every
    * product ≤ 9·100·100·2⁵² ≪ 2⁶³.
    */
  def q158_rolling_zscore(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(-100, -1)
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), expr("ts div 1000").as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sv", sum(col("cents")).over(w))
      .withColumn("ss", sum(col("cents") * col("cents")).over(w))
      .filter(col("n") >= 30 &&
        (col("n") * col("cents") - col("sv")) * (col("n") * col("cents") - col("sv")) >
          lit(9L) * (col("n") * col("ss") - col("sv") * col("sv")))
      .select(col("event_id"), col("event_type"), col("cents"),
        col("n").as("n_window"))
      .orderBy(col("event_id"))
  }

  val q158Sql: String =
    """WITH f AS (
      |  SELECT event_id, event_type, epoch_us(ts) AS us,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), w AS (
      |  SELECT event_id, event_type, cents,
      |    count(*) OVER win AS n,
      |    sum(cents) OVER win AS sv,
      |    sum(cents * cents) OVER win AS ss
      |  FROM f
      |  WINDOW win AS (PARTITION BY event_type ORDER BY us, event_id
      |    ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
      |)
      |SELECT event_id, event_type, cents, CAST(n AS BIGINT) AS n_window
      |FROM w
      |WHERE n >= 30
      |  AND (n*cents - sv) * (n*cents - sv) > 9 * (n*ss - sv*sv)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q156_event_streaks", q156_event_streaks _, q156Sql),
    Query("q157_lsh_quality", q157_lsh_quality _, q157Sql),
    Query("q158_rolling_zscore", q158_rolling_zscore _, q158Sql)
  )
}
