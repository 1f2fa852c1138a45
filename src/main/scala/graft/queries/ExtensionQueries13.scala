package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch: calendar-native event analytics, hashed-feature
  * linear scoring, snapshot drift, and embedding compression.
  *
  *  - q129: day-of-week × hour activity heatmap over REAL timestamp
  *    semantics — the round-8 verdict's "widen the event tier beyond
  *    integer buckets" direction. Calendar fields (ISO weekday) cannot
  *    be derived by integer time math (weeks don't align to epoch 0);
  *    this is the first event query whose semantics NEED the timestamp
  *    type the schema-adaptive ingestion now guarantees.
  *  - q130: feature-hashing linear text classifier (the hashing trick —
  *    Weinberger et al., ICML 2009; the FastText / Vowpal Wabbit scoring
  *    shape): token → hash bucket → weight lookup → per-document margin.
  *    The LLM-pipeline quality-filter primitive one rung above q49's
  *    rule-based flags: any trained linear model scores corpora this
  *    way, and at 100 TB it is pure map-side codegen + one aggregation.
  *  - q131: token-frequency drift between corpus snapshots — the
  *    crawl-over-crawl distribution-shift audit.
  *  - q132: int8 scalar quantization of embeddings (FAISS SQ8) with a
  *    certified round-to-nearest reconstruction bound.
  */
object ExtensionQueries13 extends QueryGroup {

  // --------------------------------------------------------------- q129

  /** q129: (ISO weekday, hour-of-day) activity heatmap over the events
    * table — per cell: event count, exact distinct users, exact-cents
    * value sum. Canonical LONG-nanos `ts` converts to a real TIMESTAMP
    * (µs, session TZ pinned UTC) and the calendar fields come from the
    * timestamp type; DuckDB mirrors with isodow()/hour() on its native
    * read of the same parquet.
    *
    * Scale shape: one groupBy over 168 cells — partial aggregation
    * map-side; the exact distinct-user count is the only shuffle-heavy
    * term (expands to (cell, user) pairs before the two-phase agg),
    * which is the standard exact-distinct cost; q81's HLL rollup is the
    * sketch alternative when ±2% suffices.
    */
  def q129_calendar_heatmap(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
    e.groupBy(
        (weekday(col("event_ts")) + 1).cast("int").as("iso_dow"), // Mon=1 .. Sun=7
        hour(col("event_ts")).cast("int").as("hour_of_day"))
      .agg(
        count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("n_users"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
      .orderBy(col("iso_dow"), col("hour_of_day"))
  }

  val q129Sql: String =
    """SELECT CAST(isodow(ts) AS INT) AS iso_dow,
      |  CAST(hour(ts) AS INT) AS hour_of_day,
      |  count(*) AS n,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY iso_dow, hour_of_day""".stripMargin

  // --------------------------------------------------------------- q130

  /** Hash-space size (buckets) and the deterministic weight surrogate.
    * A trained model would ship its weight vector exactly the way the
    * IVF centroids and BPE merge tables do — a ≤D-entry plan literal —
    * but a real training run is out of scope here, so the weights are a
    * fixed pseudo-random function of the bucket index (Knuth
    * multiplicative constant), integer in [−500, 500]: the SCORING
    * operator (hash → bucket → weight → margin) is what's under test,
    * and it is identical either way.
    */
  val HashDim = 1024
  private[queries] val WeightMul = 2654435761L // Knuth's 2^32/φ
  private[queries] val WeightMod = 1001L

  /** q130: per-document linear margin under the hashing trick. Tokens
    * (whitespace, q124's tokenizer) hash through graft_polyhash into
    * `HashDim` buckets; each bucket carries an integer weight; the
    * document's margin is the token-weight sum (term frequency weights
    * naturally — a token appearing twice contributes twice). Output:
    * margin (exact integer), token count, and the accept/reject label.
    *
    * Scale shape: everything up to the final fold is a single codegen
    * map stage (split → explode → hash → arithmetic — no join: the
    * weight function is an expression, so there isn't even a broadcast
    * to ship); the per-doc fold shuffles once on doc_id with map-side
    * partial aggregation. No driver state, no collect.
    */
  def q130_hash_classifier(s: SparkSession, dir: String): DataFrame =
    hashMargin(Tables.documents(s, dir), "doc_id", "text").orderBy(col("doc_id"))

  /** The reusable scorer: (id, margin, n_tokens, accepted) per document. */
  def hashMargin(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .withColumn("bucket", graft.functions.PolyHash.polyHash(col("tok")) % HashDim)
      .withColumn("wgt", (col("bucket") * WeightMul) % WeightMod - (WeightMod - 1) / 2)
      .groupBy(col("doc_id"))
      .agg(sum(col("wgt")).as("margin"), count(lit(1)).as("n_tokens"))
      .withColumn("accepted", col("margin") > 0)

  val q130Sql: String = {
    // polyhash mirrored as the established list_reduce fold (q126's oracle
    // machinery), byte==char for the ASCII corpus contract
    val ph = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, length(tok)+1), i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))), " +
      "(a, b) -> (a*31 + b) % 1000000007)"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), h AS (
       |  SELECT doc_id, $ph % $HashDim AS bucket FROM toks
       |), w AS (
       |  SELECT doc_id, (bucket * $WeightMul) % $WeightMod - ${(WeightMod - 1) / 2} AS wgt
       |  FROM h
       |)
       |SELECT doc_id, CAST(sum(wgt) AS BIGINT) AS margin, count(*) AS n_tokens,
       |  sum(wgt) > 0 AS accepted
       |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q131

  /** Noise floor: tokens with fewer total occurrences than this across
    * both snapshots are excluded from the drift ranking (a 1-count token
    * "drifting" is sampling noise, not distribution shift).
    */
  val DriftMinCount = 20L

  /** q131: token-frequency drift between two corpus snapshots — the
    * distribution-shift audit a crawl-over-crawl training pipeline runs
    * before mixing a new snapshot in (vocabulary churn, topic shift,
    * spam bursts all surface as per-token rate movement). Snapshots are
    * the doc_id parity halves (a deterministic stand-in for real crawl
    * ids — the operator is identical). Per token: occurrence counts in
    * each half, integer ppm rates against each half's total token count,
    * and the absolute rate drift; top 50 movers above the noise floor.
    *
    * Scale shape: one explode + one token-keyed aggregation (map-side
    * combined; both halves counted in the SAME pass via conditional
    * sums), scope-cached at the vocab-sized count frame so its two
    * consumers (the 1-row totals and the drift ranking) share a SINGLE
    * tokenize pass — without the cache, Catalyst plans the totals
    * branch as a second full corpus scan+explode (exchange reuse does
    * not fire across the differing aggregate heads; verified with
    * .explain). CacheScope releases the cache after the consuming
    * action. The totals ride a 1-row broadcast, and the ranking is
    * sort+limit (TakeOrderedAndProject), never a global window.
    */
  def q131_token_drift(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select((col("doc_id") % 2).as("snap"), explode(split(col("text"), " ")).as("tok"))
    val cnt = graft.core.CacheScope.scoped(toks.groupBy(col("tok")).agg(
      sum(when(col("snap") === 0, 1L).otherwise(0L)).as("cnt_a"),
      sum(when(col("snap") === 1, 1L).otherwise(0L)).as("cnt_b")))
    val totals = cnt.agg(sum(col("cnt_a")).as("tot_a"), sum(col("cnt_b")).as("tot_b"))
    cnt.filter(col("cnt_a") + col("cnt_b") >= DriftMinCount)
      .crossJoin(broadcast(totals)) // 1-row scalar fan-out
      .withColumn("ppm_a", expr("cnt_a * 1000000L div tot_a"))
      .withColumn("ppm_b", expr("cnt_b * 1000000L div tot_b"))
      .withColumn("drift_ppm", abs(col("ppm_a") - col("ppm_b")))
      .select(col("tok"), col("cnt_a"), col("cnt_b"),
        col("ppm_a"), col("ppm_b"), col("drift_ppm"))
      .orderBy(col("drift_ppm").desc, col("tok"))
      .limit(50)
  }

  val q131Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id % 2 AS snap, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), cnt AS (
       |  SELECT tok,
       |    CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
       |    CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
       |  FROM toks GROUP BY tok
       |), totals AS (
       |  SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
       |    CAST(sum(cnt_b) AS BIGINT) AS tot_b FROM cnt
       |)
       |SELECT tok, cnt_a, cnt_b,
       |  cnt_a * 1000000 // tot_a AS ppm_a,
       |  cnt_b * 1000000 // tot_b AS ppm_b,
       |  abs(cnt_a * 1000000 // tot_a - cnt_b * 1000000 // tot_b) AS drift_ppm
       |FROM cnt CROSS JOIN totals
       |WHERE cnt_a + cnt_b >= $DriftMinCount
       |ORDER BY drift_ppm DESC, tok LIMIT 50""".stripMargin

  // --------------------------------------------------------------- q132

  /** q132: int8 scalar quantization of the embeddings table (FAISS SQ8 —
    * the storage rung below product quantization: 4× smaller than
    * float32 at near-zero recall cost, and the usual first compression
    * step before an IVF/PQ index). Per-dimension min/max train the
    * quantizer; codes are `round((x − mn) / step)` with
    * `step = (mx − mn) / 255`. Output per vector: an order-weighted
    * mod-p checksum of the codes (pins every (dim, code) pair without
    * emitting arrays — the q126 convention), code range, and a CERTIFIED
    * reconstruction bound: `|dequant(code) − x| ≤ step/2` for every
    * dimension (the defining property of round-to-nearest
    * quantization), as a boolean DuckDB pins TRUE.
    *
    * The FP arithmetic (step, code, reconstruction) is the same IEEE
    * double op sequence in both engines, so codes and booleans match
    * bit-exactly.
    *
    * Scale shape: posexplode fans out n·d rows; the per-dimension stats
    * are a d-row aggregate (map-side combined) broadcast back — the
    * trained quantizer IS those d rows, the plan-literal pattern
    * without even a driver collect; the per-vector fold shuffles once
    * on vec_id. No pair joins, no windows.
    */
  def q132_scalar_quantize(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "xf")))
      .select(col("vec_id"), (col("pos0") + 1).as("pos"), col("xf").cast("double").as("x"))
    val stats = ex.groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    ex.join(broadcast(stats), "pos")
      .withColumn("step", (col("mx") - col("mn")) / 255.0)
      .withColumn("code",
        when(col("step") === 0.0, lit(0L))
          .otherwise(round((col("x") - col("mn")) / col("step")).cast("long")))
      .withColumn("err_ok",
        when(col("step") === 0.0, col("x") === col("mn"))
          .otherwise(abs(col("mn") + col("code") * col("step") - col("x"))
            <= col("step") * 0.5000001))
      .groupBy(col("vec_id"))
      .agg(
        expr("sum(code * pos) % 1000000007").as("code_checksum"),
        count(lit(1)).as("n_dims"),
        min(col("code")).as("code_min"),
        max(col("code")).as("code_max"),
        expr("bool_and(err_ok)").as("reconstruction_certified"))
      .orderBy(col("vec_id"))
  }

  val q132Sql: String =
    """WITH ex AS (
      |  SELECT vec_id,
      |    unnest(range(1, len(embedding)+1)) AS pos,
      |    unnest(list_transform(range(1, len(embedding)+1),
      |      sq_i -> CAST(embedding[sq_i] AS DOUBLE))) AS x
      |  FROM embeddings
      |), stats AS (
      |  SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY pos
      |), q AS (
      |  SELECT vec_id, ex.pos, x, mn, (mx - mn) / 255.0 AS step
      |  FROM ex JOIN stats ON ex.pos = stats.pos
      |), c AS (
      |  SELECT vec_id, pos, x, mn, step,
      |    CASE WHEN step = 0.0 THEN 0
      |         ELSE CAST(round((x - mn) / step) AS BIGINT) END AS code
      |  FROM q
      |)
      |SELECT vec_id,
      |  CAST(sum(code * pos) % 1000000007 AS BIGINT) AS code_checksum,
      |  count(*) AS n_dims,
      |  min(code) AS code_min,
      |  max(code) AS code_max,
      |  bool_and(CASE WHEN step = 0.0 THEN x = mn
      |    ELSE abs(mn + code * step - x) <= step * 0.5000001 END)
      |    AS reconstruction_certified
      |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q129_calendar_heatmap", q129_calendar_heatmap _, q129Sql),
    Query("q130_hash_classifier", q130_hash_classifier _, q130Sql),
    Query("q131_token_drift", q131_token_drift _, q131Sql),
    Query("q132_scalar_quantize", q132_scalar_quantize _, q132Sql)
  )
}
