package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan

/** Round-13 batch 15: curation budgeting, switching dynamics, and the
  * statistical price of reweighting.
  *
  *  - q397 token-budget knapsack — greedy best-quality-per-token
  *    selection under a hard token budget (the doc-level companion to
  *    q340's mixture-level budget): quality = unique-token ratio, the
  *    greedy-by-ratio order is optimal for this fractional-knapsack
  *    shape, and the admit line falls out of a PrefixScan cumulative
  *    over the (ratio, id)-ordered corpus — no driver loop.
  *  - q398 brand-switching matrix — each customer's dominant brand in
  *    the first vs second half of the span (exact cents, brand
  *    tiebreak), the (from, to) transition counts, and per-from-brand
  *    loyalty ppm. The dynamics complement to q214's static ABC
  *    classification.
  *  - q399 effective sample size of BALANCED-LANGUAGE reweighting —
  *    every doc weighted 1e6 div n_lang (inverse language frequency,
  *    the balanced-sampling weights); ESS = (Σw)²/Σw² as ppm of n:
  *    THE number that says what the reweighting costs in statistical
  *    power (the q42 dedup weights are degenerate here — every
  *    cluster has size 3 — so the language axis carries the
  *    non-trivial case).
  */
object ExtensionQueries102 extends QueryGroup {

  // --------------------------------------------------------------- q397

  /** q397: greedy knapsack under a 20,000-token budget at sf-relative
    * corpus size. Output: corpus totals, the admitted set's size and
    * token mass, and the admit-line ratio. Scale shape: one token
    * rollup per doc, a PrefixScan cumulative in (ratio desc, id)
    * order, one fold — the greedy needs no iteration because the
    * cumulative IS the greedy order.
    */
  def q397_token_budget_knapsack(s: SparkSession, dir: String): DataFrame = {
    val budget = 20000L
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("n_unique"))
      .select(col("doc_id"), col("n_tokens"),
        expr("n_unique * 1000000 div n_tokens").as("ratio_ppm"))
    // greedy order: best ratio first; PrefixScan orders ASCENDING, so
    // feed the NEGATED ratio (ties broken by doc_id, mirrored)
    val cum = PrefixScan.prefixSumsInclusive(
      docs.select(col("doc_id"), col("n_tokens"), col("ratio_ppm"),
        (-col("ratio_ppm")).as("neg_ratio")),
      16, Seq(col("neg_ratio"), col("doc_id")), Seq((col("n_tokens"), "cum_tokens")))
    val admitted = cum.filter(col("cum_tokens") <= budget)
    val totals = docs.agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens_total"))
    val sel = admitted.agg(count(lit(1)).as("n_selected"),
      coalesce(max(col("cum_tokens")), lit(0L)).as("tokens_used"),
      coalesce(min(col("ratio_ppm")), lit(0L)).as("cutoff_ratio_ppm"))
    totals.crossJoin(broadcast(sel))
      .select(col("n_docs"), col("tokens_total"), lit(budget).as("tokens_budget"),
        col("n_selected"), col("tokens_used"), col("cutoff_ratio_ppm"))
  }

  val q397Sql: String =
    """WITH d AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |    CAST(count(DISTINCT tok) * 1000000 // count(*) AS BIGINT) AS ratio_ppm
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY 1
      |), cum AS (
      |  SELECT doc_id, n_tokens, ratio_ppm,
      |    CAST(sum(n_tokens) OVER (ORDER BY ratio_ppm DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM d
      |), sel AS (
      |  SELECT count(*) AS n_selected,
      |    coalesce(max(cum_tokens), 0) AS tokens_used,
      |    coalesce(min(ratio_ppm), 0) AS cutoff_ratio_ppm
      |  FROM cum WHERE cum_tokens <= 20000
      |), t AS (
      |  SELECT count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens_total
      |  FROM d
      |)
      |SELECT t.n_docs, t.tokens_total, CAST(20000 AS BIGINT) AS tokens_budget,
      |  sel.n_selected, CAST(sel.tokens_used AS BIGINT) AS tokens_used,
      |  CAST(sel.cutoff_ratio_ppm AS BIGINT) AS cutoff_ratio_ppm
      |FROM t, sel""".stripMargin

  // --------------------------------------------------------------- q398

  /** q398: (from_brand, to_brand) customer counts between span halves,
    * plus the from-brand loyalty share. Dominant brand = max cents
    * with brand-name tiebreak, picked via max(struct) — no window.
    * Scale shape: one lineitem→orders join keyed on the order key, a
    * per-(customer, half, brand) rollup, a max-struct fold per
    * (customer, half), one matrix rollup.
    */
  def q398_brand_switching(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
    val split = li.agg(expr("(min(day) + (max(day) - min(day)) div 2)").as("d_split"))
    val halves = li.crossJoin(broadcast(split))
      .groupBy(col("o_custkey"), (col("day") > col("d_split")).as("second"),
        col("p_brand"))
      .agg(sum(col("cents")).as("c"))
      // dominant brand: max cents, lexicographically SMALLEST brand on
      // ties — struct max on (c, negated-rank via brand desc) can't
      // express "smallest string wins", so flip: take max over
      // (c, brand) after noting ties are broken toward the LARGER
      // brand string, mirrored on both engines
      .groupBy(col("o_custkey"), col("second"))
      .agg(max(struct(col("c"), col("p_brand"))).as("top"))
      .select(col("o_custkey"), col("second"), col("top.p_brand").as("brand"))
    val matrix = halves.groupBy(col("o_custkey"))
      .agg(max(when(!col("second"), col("brand"))).as("from_brand"),
        max(when(col("second"), col("brand"))).as("to_brand"))
      .filter(col("from_brand").isNotNull && col("to_brand").isNotNull)
      .groupBy(col("from_brand"), col("to_brand"))
      .agg(count(lit(1)).as("n_customers"))
    val fromTot = matrix.groupBy(col("from_brand"))
      .agg(sum(col("n_customers")).as("n_from"))
    matrix.join(fromTot, "from_brand")
      .select(col("from_brand"), col("to_brand"), col("n_customers"),
        expr("n_customers * 1000000 div n_from").as("share_ppm"),
        when(col("from_brand") === col("to_brand"), 1L).otherwise(0L).as("is_loyal"))
      .orderBy(col("from_brand"), col("to_brand"))
  }

  val q398Sql: String =
    """WITH li AS (
      |  SELECT o.o_custkey,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    p.p_brand, CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |), sp AS (SELECT min(day) + (max(day) - min(day)) // 2 AS d_split FROM li),
      |halves AS (
      |  SELECT o_custkey, (day > sp.d_split) AS second, p_brand,
      |    CAST(sum(cents) AS BIGINT) AS c
      |  FROM li, sp GROUP BY 1, 2, 3
      |), top AS (
      |  SELECT o_custkey, second,
      |    (max({'c': c, 'b': p_brand})).b AS brand
      |  FROM halves GROUP BY 1, 2
      |), m AS (
      |  SELECT from_brand, to_brand, count(*) AS n_customers FROM (
      |    SELECT o_custkey,
      |      max(CASE WHEN NOT second THEN brand END) AS from_brand,
      |      max(CASE WHEN second THEN brand END) AS to_brand
      |    FROM top GROUP BY 1
      |  ) WHERE from_brand IS NOT NULL AND to_brand IS NOT NULL
      |  GROUP BY 1, 2
      |), ft AS (
      |  SELECT from_brand, CAST(sum(n_customers) AS BIGINT) AS n_from
      |  FROM m GROUP BY 1
      |)
      |SELECT m.from_brand, m.to_brand, m.n_customers,
      |  CAST(m.n_customers * 1000000 // ft.n_from AS BIGINT) AS share_ppm,
      |  CAST(CASE WHEN m.from_brand = m.to_brand THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_loyal
      |FROM m JOIN ft USING (from_brand)
      |ORDER BY from_brand, to_brand""".stripMargin

  // --------------------------------------------------------------- q399

  /** q399: ESS of inverse-language-frequency document weights
    * (w = 1e6 div n_lang, the balanced-sampling correction for the
    * ~3× en-heavy corpus) — ESS_ppm = (Σw)²·1e6 div (n·Σw²) through
    * DECIMAL(38,0). Scale shape: one language rollup (5 rows), three
    * folds; nothing touches documents twice.
    */
  def q399_effective_sample_size(s: SparkSession, dir: String): DataFrame = {
    val langN = Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      .select(col("n_l"), expr("1000000 div n_l").as("w"))
    langN.agg(sum(col("n_l")).as("n_docs"),
        sum(col("n_l") * col("w")).as("sum_w"),
        sum(col("n_l") * col("w") * col("w")).as("sum_wsq"))
      .select(col("n_docs"), col("sum_w"), col("sum_wsq"),
        expr("CAST(CAST(sum_w AS DECIMAL(38,0)) * sum_w * 1000000 " +
          "div (n_docs * sum_wsq) AS BIGINT)").as("ess_ppm"))
  }

  val q399Sql: String =
    """WITH l AS (
      |  SELECT count(*) AS n_l, 1000000 // count(*) AS w
      |  FROM documents GROUP BY lang
      |), f AS (
      |  SELECT CAST(sum(n_l) AS BIGINT) AS n_docs,
      |    CAST(sum(n_l * w) AS BIGINT) AS sum_w,
      |    CAST(sum(n_l * w * w) AS BIGINT) AS sum_wsq
      |  FROM l
      |)
      |SELECT n_docs, sum_w, sum_wsq,
      |  CAST(CAST(sum_w AS HUGEINT) * sum_w * 1000000 // (n_docs * sum_wsq)
      |    AS BIGINT) AS ess_ppm
      |FROM f""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q397_token_budget_knapsack", q397_token_budget_knapsack _, q397Sql),
    Query("q398_brand_switching", q398_brand_switching _, q398Sql),
    Query("q399_effective_sample_size", q399_effective_sample_size _, q399Sql)
  )
}
