package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 6: positional retrieval and conversion timing.
  *
  *  - q148: positional phrase search — the inverted-index operator BM25
  *    (q124) cannot express: exact ADJACENCY, via a positional index.
  *  - q149: funnel conversion-time order statistics — how long signup →
  *    first purchase takes, as exact rank-selected percentiles.
  */
object ExtensionQueries18 extends QueryGroup {

  // --------------------------------------------------------------- q148

  /** q148: positional phrase search. Bag-of-words retrieval (q124 BM25)
    * cannot distinguish "new york" from "york new"; phrase queries need
    * token POSITIONS. The corpus's most frequent bigram (computed
    * in-query — a deterministic stand-in for a user query string) is
    * matched as an exact adjacent-position phrase; output: the top 10
    * matching documents by in-document phrase frequency.
    *
    * Scale shape: ONE tokenize pass with positions (scope-cached — the
    * bigram statistics and the match both consume it); adjacency comes
    * from a doc-partitioned lead window (never global); the top bigram
    * is a 1-row broadcast (the "query"); matching is a broadcast
    * semi-filter + one doc-keyed count; ranking is
    * TakeOrderedAndProject. At serving scale the (term, doc, pos) frame
    * IS the positional inverted index — written bucketed by term
    * (q137's layout), the same plan runs per user query with the scan
    * pruned to the query's terms.
    */
  def q148_phrase_search(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = graft.core.CacheScope.scoped(
      Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .withColumn("tok2", lead(col("tok"), 1).over(w))
        .filter(col("tok2").isNotNull))
    val top = bigrams.groupBy(col("tok"), col("tok2")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"), col("tok2")).limit(1)
      .select(col("tok"), col("tok2"))
    bigrams.join(broadcast(top), Seq("tok", "tok2"))
      .groupBy(col("tok"), col("tok2"), col("doc_id"))
      .agg(count(lit(1)).as("n_in_doc"))
      .select(concat_ws(" ", col("tok"), col("tok2")).as("phrase"),
        col("doc_id"), col("n_in_doc"))
      .orderBy(col("n_in_doc").desc, col("doc_id"))
      .limit(10)
  }

  val q148Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), bigrams AS (
      |  SELECT doc_id, tok,
      |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS tok2
      |  FROM toks
      |), bg AS (
      |  SELECT doc_id, tok, tok2 FROM bigrams WHERE tok2 IS NOT NULL
      |), top AS (
      |  SELECT tok, tok2 FROM (
      |    SELECT tok, tok2, count(*) AS n FROM bg GROUP BY tok, tok2
      |    ORDER BY n DESC, tok, tok2 LIMIT 1
      |  )
      |)
      |SELECT tok || ' ' || tok2 AS phrase, doc_id, count(*) AS n_in_doc
      |FROM bg JOIN top USING (tok, tok2)
      |GROUP BY tok, tok2, doc_id
      |ORDER BY n_in_doc DESC, doc_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q149

  /** q149: signup → first-purchase conversion timing. Per converting
    * user: first signup and the first purchase AFTER it; the latency
    * distribution reports as EXACT order statistics — the ceil(q·n)-th
    * smallest latency (type-1 quantile: pure integer-µs selection, no
    * interpolation arithmetic to diverge on) for p50 and p90, plus the
    * conversion count and rate against all signed-up users.
    *
    * Scale shape: one user-keyed aggregate finds both anchor timestamps
    * (conditional min — the q136 fold, no windows); the rank over the
    * users-sized latency frame goes through the q91 two-phase dense rank
    * (DenseIds: range partition + offsets), NEVER a partition-less
    * row_number window — the one formulation that survives a latency
    * frame with 10⁹ users; counts ride as bounded 1-row collects.
    */
  def q149_conversion_timing(s: SparkSession, dir: String): DataFrame = {
    val anchors = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("signup_ts"))
    val firstBuy = Tables.events(s, dir)
      .join(anchors.filter(col("signup_ts").isNotNull), "user_id")
      .filter(col("event_type") === "purchase" && col("ts") >= col("signup_ts"))
      .groupBy(col("user_id"), col("signup_ts"))
      .agg(min(col("ts")).as("purchase_ts"))
      .withColumn("latency_us", expr("(purchase_ts - signup_ts) div 1000"))
    // DenseIds checkpoints internally, so ranked is reusable without recompute
    val ranked = graft.ops.DenseIds.withDenseId(
      firstBuy, "gid", 8, col("latency_us"), col("user_id"))
    val n = ranked.count() // bounded: one long to the driver
    val signed = anchors.filter(col("signup_ts").isNotNull)
      .agg(count(lit(1)).as("n_signed"))
    def rankOf(q: Double): Long = math.max(1L, math.ceil(q * n).toLong) - 1L // 0-based
    ranked.filter(col("gid") === rankOf(0.5) || col("gid") === rankOf(0.9))
      .agg(
        min(col("latency_us")).as("p50_latency_us"),
        max(col("latency_us")).as("p90_latency_us"))
      .crossJoin(broadcast(signed))
      .select(lit(n).as("n_converted"), col("n_signed"),
        expr(s"$n * 1000000 div n_signed").as("conversion_ppm"),
        col("p50_latency_us"), col("p90_latency_us"))
  }

  val q149Sql: String =
    """WITH anchors AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS signup_us
      |  FROM events GROUP BY user_id
      |), conv AS (
      |  SELECT e.user_id, a.signup_us,
      |    min(epoch_us(e.ts)) - a.signup_us AS latency_us
      |  FROM events e JOIN anchors a ON e.user_id = a.user_id
      |  WHERE a.signup_us IS NOT NULL AND e.event_type = 'purchase'
      |    AND epoch_us(e.ts) >= a.signup_us
      |  GROUP BY e.user_id, a.signup_us
      |), ranked AS (
      |  SELECT latency_us,
      |    row_number() OVER (ORDER BY latency_us, user_id) AS rn,
      |    count(*) OVER () AS n
      |  FROM conv
      |), signed AS (
      |  SELECT count(*) AS n_signed FROM anchors WHERE signup_us IS NOT NULL
      |)
      |SELECT
      |  (SELECT max(n) FROM ranked) AS n_converted,
      |  n_signed,
      |  (SELECT max(n) FROM ranked) * 1000000 // n_signed AS conversion_ppm,
      |  (SELECT latency_us FROM ranked
      |     WHERE rn = greatest(1, CAST(ceil(0.5 * (SELECT max(n) FROM ranked)) AS BIGINT)))
      |    AS p50_latency_us,
      |  (SELECT latency_us FROM ranked
      |     WHERE rn = greatest(1, CAST(ceil(0.9 * (SELECT max(n) FROM ranked)) AS BIGINT)))
      |    AS p90_latency_us
      |FROM signed""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q148_phrase_search", q148_phrase_search _, q148Sql),
    Query("q149_conversion_timing", q149_conversion_timing _, q149Sql)
  )
}
