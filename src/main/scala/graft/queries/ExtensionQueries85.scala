package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-12 batch 11: corpus-geometry and behavioral profiles, all in
  * the exact-integer discipline.
  *
  *  - q347 language similarity matrix: pairwise cosine² between
  *    per-language char-trigram count vectors, as the exact rational
  *    `dot²·10⁶ div (‖a‖²·‖b‖²)` — squaring dodges the sqrt and keeps
  *    the statistic a pure integer. The pair join is an inverted index
  *    on the trigram (each posting ≤ |languages| rows — never a vector
  *    cross join); the number that groups scripts/languages for
  *    tokenizer sharing.
  *  - q348 recency-decayed corpus mass: exponential decay with a 1-week
  *    half-life in EXACT arithmetic — weight = cents div 2^age_weeks
  *    (power-of-two decay is integer-exact; e-base decay would hang on
  *    libm exp). The freshness-weighted value the crawl scheduler
  *    optimizes.
  *  - q349 behavioral diversity: per-user event-type entropy via the
  *    integer bit-length surrogate (the q105 idiom: bits(n) − bits(c)
  *    per event as −log₂ share), rolled into a per-centibit-band user
  *    histogram — the repeat-vs-explorer segmentation without a single
  *    float.
  */
object ExtensionQueries85 extends QueryGroup {

  // --------------------------------------------------------------- q347

  /** q347: cos²·10⁶ between language trigram profiles, pairs a < b. */
  def q347_lang_trigram_similarity(s: SparkSession, dir: String): DataFrame = {
    val tri = Tables.documents(s, dir)
      .select(col("lang"), explode(expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
        .as("tri"))
      .groupBy(col("lang"), col("tri")).agg(count(lit(1)).as("c"))
    val norms = tri.groupBy(col("lang")).agg(sum(col("c") * col("c")).as("nsq"))
    val dots = tri.as("a").join(tri.as("b"),
        col("a.tri") === col("b.tri") && col("a.lang") < col("b.lang"))
      .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    // dot²·10⁶ and nsq_a·nsq_b overflow BIGINT past ~sf0.1 — the ratio
    // rides DECIMAL(38,0) (the q320 spelling; exact to nsq ≈ 10¹⁶,
    // i.e. corpus scales far past sf100)
    dots
      .join(norms.select(col("lang").as("lang_a"), col("nsq").as("nsq_a")), "lang_a")
      .join(norms.select(col("lang").as("lang_b"), col("nsq").as("nsq_b")), "lang_b")
      .select(col("lang_a"), col("lang_b"),
        expr("CAST((CAST(dot AS DECIMAL(38,0)) * dot * 1000000) div " +
          "(CAST(nsq_a AS DECIMAL(38,0)) * nsq_b) AS BIGINT)").as("cos2_ppm"))
      .orderBy(col("lang_a"), col("lang_b"))
  }

  val q347Sql: String =
    """WITH tri AS (
      |  SELECT lang, unnest(list_transform(range(1, length(text) - 1),
      |    i -> substring(text, i, 3))) AS tri
      |  FROM documents
      |), c AS (
      |  SELECT lang, tri, count(*) AS c FROM tri GROUP BY 1, 2
      |), norms AS (
      |  SELECT lang, CAST(sum(c * c) AS BIGINT) AS nsq FROM c GROUP BY lang
      |), dots AS (
      |  SELECT a.lang AS lang_a, b.lang AS lang_b,
      |    CAST(sum(a.c * b.c) AS BIGINT) AS dot
      |  FROM c a JOIN c b ON a.tri = b.tri AND a.lang < b.lang
      |  GROUP BY 1, 2
      |)
      |SELECT lang_a, lang_b,
      |  CAST(CAST(dot AS HUGEINT) * dot * 1000000
      |    // (CAST(na.nsq AS HUGEINT) * nb.nsq) AS BIGINT) AS cos2_ppm
      |FROM dots JOIN norms na ON lang_a = na.lang
      |JOIN norms nb ON lang_b = nb.lang
      |ORDER BY lang_a, lang_b""".stripMargin

  // --------------------------------------------------------------- q348

  /** q348: per event type — raw cents vs cents decayed by
    * 2^(age in weeks from the corpus max day), plus the retained
    * per-mille. Power-of-two halving is exact in both engines
    * (pow(2, k) is integer-exact for small k; the division truncates
    * identically).
    */
  def q348_recency_decay(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val e = Tables.events(s, dir)
      .select(col("event_type"), expr(s"ts div 1000 div $dayUs").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val mx = e.agg(max(col("day")).as("max_day")) // 1-row broadcast
    e.crossJoin(broadcast(mx))
      .withColumn("age_w", expr("(max_day - day) div 7"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents_raw"),
        sum(expr("cents div CAST(pow(2, age_w) AS BIGINT)")).as("cents_decayed"))
      .select(col("event_type"), col("n_events"), col("cents_raw"),
        col("cents_decayed"),
        expr("cents_decayed * 1000 div cents_raw").as("retained_per_mille"))
      .orderBy(col("event_type"))
  }

  val q348Sql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), m AS (SELECT max(day) AS max_day FROM e)
      |SELECT event_type, count(*) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS cents_raw,
      |  CAST(sum(cents // CAST(pow(2, (max_day - day) // 7) AS BIGINT))
      |    AS BIGINT) AS cents_decayed,
      |  CAST(sum(cents // CAST(pow(2, (max_day - day) // 7) AS BIGINT)) * 1000
      |    // sum(cents) AS BIGINT) AS retained_per_mille
      |FROM e, m GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q349

  /** q349: per-user diversity = Σ_types c·(bits(n) − bits(c)) div n
    * centibit-scaled (×100), histogrammed into bands of 50 — repeaters
    * (one dominant type) land low, explorers high; exact integers
    * end to end.
    */
  def q349_behavior_diversity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c") * length(bin(col("c")))).as("wbits"))
      // Σc·(bits(n)−bits(c)) = n·bits(n) − Σc·bits(c); centibits, then
      // banded by 50
      .select(col("user_id"),
        expr("(n * length(bin(n)) - wbits) * 100 div n").as("div_centibits"))
      .groupBy(expr("div_centibits div 50").as("band"))
      .agg(count(lit(1)).as("n_users"),
        min(col("div_centibits")).as("min_cb"),
        max(col("div_centibits")).as("max_cb"))
      .orderBy(col("band"))

  val q349Sql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
      |), u AS (
      |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
      |    CAST(sum(c * length(bin(c))) AS BIGINT) AS wbits
      |  FROM c GROUP BY user_id
      |), d AS (
      |  SELECT user_id,
      |    (n * length(bin(n)) - wbits) * 100 // n AS div_centibits
      |  FROM u
      |)
      |SELECT div_centibits // 50 AS band, count(*) AS n_users,
      |  CAST(min(div_centibits) AS BIGINT) AS min_cb,
      |  CAST(max(div_centibits) AS BIGINT) AS max_cb
      |FROM d GROUP BY 1 ORDER BY band""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q347_lang_trigram_similarity", q347_lang_trigram_similarity _, q347Sql),
    Query("q348_recency_decay", q348_recency_decay _, q348Sql),
    Query("q349_behavior_diversity", q349_behavior_diversity _, q349Sql)
  )
}
