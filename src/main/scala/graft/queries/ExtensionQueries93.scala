package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Ranks

/** Round-13 batch 6: a Spark-4 surface and two bit-length scorers.
  *
  *  - q370 `Dataset.transpose` (new in Spark 4) — rows↔columns for a
  *    bounded aggregate; the index column's values become column
  *    names. The DuckDB mirror writes the transpose relationally
  *    (long-form UNION + conditional aggregation), proving the result
  *    is plain SQL semantics.
  *  - q371 HBOS (histogram-based outlier score, Goldstein & Dengel
  *    2012) over orders — the density-based anomaly scorer that needs
  *    no pairwise distances: score = Σ_features −log₂ p̂(bin), here in
  *    the exact integer bit-length surrogate (q105's idiom:
  *    len(bin(N)) − len(bin(cnt))). Complements q90 (MAD outliers,
  *    one-dimensional) and q351 (bivariate Mahalanobis-ish).
  *  - q372 cross-lingual surprisal matrix — every language's docs
  *    scored under every language's add-one-smoothed unigram model,
  *    in exact centibits. The diagonal must be the coolest cell per
  *    row (own model fits best) — the deterministic stand-in for
  *    per-language perplexity filtering (CCNet) at matrix granularity;
  *    q347's trigram cosine answers "how similar are the languages",
  *    this answers "how well does each MODEL fit each corpus".
  */
object ExtensionQueries93 extends QueryGroup {

  // --------------------------------------------------------------- q370

  /** q370: per-returnflag aggregate transposed — metrics as rows,
    * flags as columns. Scale shape: transpose COLLECTS the frame to
    * the driver by contract (column names come from data), so it is
    * only ever legal on a bounded aggregate — here 3 rows × 3 metrics;
    * the aggregation below it is the only distributed work.
    */
  def q370_transpose(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("qty_c"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("price_c"),
        count(lit(1)).as("n_rows"))
      .transpose(col("l_returnflag"))
      .orderBy(col("key"))

  val q370Sql: String =
    """WITH agg AS (
      |  SELECT l_returnflag,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_c,
      |    count(*) AS n_rows
      |  FROM lineitem GROUP BY 1
      |), long AS (
      |  SELECT l_returnflag, 'qty_c' AS key, qty_c AS v FROM agg
      |  UNION ALL SELECT l_returnflag, 'price_c', price_c FROM agg
      |  UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM agg
      |)
      |SELECT key,
      |  max(CASE WHEN l_returnflag = 'A' THEN v END) AS "A",
      |  max(CASE WHEN l_returnflag = 'N' THEN v END) AS "N",
      |  max(CASE WHEN l_returnflag = 'R' THEN v END) AS "R"
      |FROM long GROUP BY key ORDER BY key""".stripMargin

  // --------------------------------------------------------------- q371

  /** q371: top-20 HBOS anomalies over three order features (price
    * band, priority, weekday). Scale shape: three map-combined
    * histogram shuffles (each ≤ a few dozen bins) broadcast back onto
    * one scan; the top-k is sort+limit (TakeOrderedAndProject), ranked
    * under [[Ranks.bounded]].
    */
  def q371_hbos(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir).select(col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT) div 5000000").as("price_band"),
      col("o_orderpriority").as("priority"),
      expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') % 7 AS BIGINT)")
        .as("weekday"))
    def hist(c: String) = base.groupBy(col(c)).agg(count(lit(1)).as(s"n_$c"))
    val n = base.agg(count(lit(1)).as("n_total"))
    val scored = base
      .join(broadcast(hist("price_band")), "price_band")
      .join(broadcast(hist("priority")), "priority")
      .join(broadcast(hist("weekday")), "weekday")
      .crossJoin(broadcast(n))
      .select(col("o_orderkey"), col("price_band"), col("priority"), col("weekday"),
        expr("CAST(3 * length(bin(n_total)) - length(bin(n_price_band)) " +
          "- length(bin(n_priority)) - length(bin(n_weekday)) AS BIGINT)")
          .as("score_bits"))
    val top = scored.orderBy(col("score_bits").desc, col("o_orderkey")).limit(20)
    top.withColumn("rank", row_number().over(
        Ranks.bounded(col("o_orderkey"), col("score_bits").desc, col("o_orderkey")))
        .cast("long"))
      .select(col("rank"), col("o_orderkey"), col("price_band"), col("priority"),
        col("weekday"), col("score_bits"))
      .orderBy(col("rank"))
  }

  val q371Sql: String =
    """WITH base AS (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) // 5000000 AS price_band,
      |    o_orderpriority AS priority,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 7
      |      AS BIGINT) AS weekday
      |  FROM orders
      |), hp AS (SELECT price_band, count(*) AS n_pb FROM base GROUP BY 1),
      |hr AS (SELECT priority, count(*) AS n_pr FROM base GROUP BY 1),
      |hw AS (SELECT weekday, count(*) AS n_wd FROM base GROUP BY 1),
      |t AS (SELECT count(*) AS n_total FROM base),
      |scored AS (
      |  SELECT b.o_orderkey, b.price_band, b.priority, b.weekday,
      |    CAST(3 * length(bin(t.n_total)) - length(bin(hp.n_pb))
      |      - length(bin(hr.n_pr)) - length(bin(hw.n_wd)) AS BIGINT) AS score_bits
      |  FROM base b JOIN hp USING (price_band) JOIN hr USING (priority)
      |    JOIN hw USING (weekday), t
      |)
      |SELECT CAST(row_number() OVER (ORDER BY score_bits DESC, o_orderkey) AS BIGINT)
      |    AS rank,
      |  o_orderkey, price_band, priority, weekday, score_bits
      |FROM scored
      |QUALIFY rank <= 20
      |ORDER BY rank""".stripMargin

  // --------------------------------------------------------------- q372

  /** q372: 5×5 (model language × eval language) mean add-one-smoothed
    * surprisal in centibits. Scale shape: the model is one (lang, tok)
    * map-combined shuffle; eval occurrences join it on the token key
    * after a 5-way model-lang fanout; totals broadcast.
    */
  def q372_crosslang_surprisal(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("lang").as("lang_eval"), explode(split(col("text"), " ")).as("tok"))
    val model = toks.groupBy(col("lang_eval").as("lang_model"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val totals = model.groupBy(col("lang_model")).agg(sum(col("cnt")).as("n_model"))
    val vocab = toks.agg(countDistinct(col("tok")).as("v"))
    val langs = model.select(col("lang_model")).distinct()
    toks.crossJoin(broadcast(langs))
      .join(model, Seq("lang_model", "tok"), "left")
      .join(broadcast(totals), "lang_model")
      .crossJoin(broadcast(vocab))
      .select(col("lang_model"), col("lang_eval"),
        expr("CAST(length(bin(n_model + v)) - length(bin(coalesce(cnt, 0) + 1)) " +
          "AS BIGINT)").as("bits"))
      .groupBy(col("lang_model"), col("lang_eval"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
      .withColumn("mean_centibits", expr("sum_bits * 100 div n_tokens"))
      .orderBy(col("lang_model"), col("lang_eval"))
  }

  val q372Sql: String =
    """WITH toks AS (
      |  SELECT lang AS lang_eval, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), model AS (
      |  SELECT lang_eval AS lang_model, tok, count(*) AS cnt
      |  FROM toks GROUP BY 1, 2
      |), totals AS (
      |  SELECT lang_model, CAST(sum(cnt) AS BIGINT) AS n_model FROM model GROUP BY 1
      |), vocab AS (SELECT count(DISTINCT tok) AS v FROM toks),
      |langs AS (SELECT DISTINCT lang_model FROM model),
      |scored AS (
      |  SELECT l.lang_model, t.lang_eval,
      |    CAST(length(bin(tt.n_model + vocab.v)) -
      |         length(bin(coalesce(m.cnt, 0) + 1)) AS BIGINT) AS bits
      |  FROM toks t CROSS JOIN langs l
      |  LEFT JOIN model m ON m.lang_model = l.lang_model AND m.tok = t.tok
      |  JOIN totals tt ON tt.lang_model = l.lang_model, vocab
      |)
      |SELECT lang_model, lang_eval, count(*) AS n_tokens,
      |  CAST(sum(bits) AS BIGINT) AS sum_bits,
      |  CAST(sum(bits) * 100 // count(*) AS BIGINT) AS mean_centibits
      |FROM scored GROUP BY 1, 2 ORDER BY lang_model, lang_eval""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q370_transpose", q370_transpose _, q370Sql),
    Query("q371_hbos", q371_hbos _, q371Sql),
    Query("q372_crosslang_surprisal", q372_crosslang_surprisal _, q372Sql)
  )
}
