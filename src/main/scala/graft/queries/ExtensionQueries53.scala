package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{DenseIds, PrefixScan}

/** Round-9 batch 41: weighted order statistics, targeting curves, and
  * prefix indexing — exact-integer, DuckDB-oracle-gated.
  *
  *  - q252: quantity-weighted median unit price.
  *  - q253: cumulative gains curve — share of buyers captured by the
  *    top-k score deciles.
  *  - q254: autocomplete prefix table — top completion per 3-char
  *    prefix.
  */
object ExtensionQueries53 extends QueryGroup {

  // --------------------------------------------------------------- q252

  /** q252: quantity-weighted median unit price — the smallest unit
    * price whose CUMULATIVE quantity reaches half the total quantity
    * (`ceil(W/2)` with integer `(W+1) div 2`), alongside the unweighted
    * median for contrast. A plain median treats a 1-unit line and a
    * 50-unit line alike; the weighted one prices the typical UNIT, not
    * the typical line. Exact: value-keyed weight sums + the two-phase
    * prefix scan.
    *
    * Scale shape: one lineitem pass → per-unit-price (weight, count)
    * aggregate; cumulative weights AND counts ride ONE
    * [[graft.ops.PrefixScan.prefixSumsInclusive]] pass; selections are
    * conditional mins against 1-row broadcasts.
    */
  def q252_weighted_median(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.lineitem(s, dir)
      .select(expr("CAST(round(l_extendedprice * 100) AS LONG) * 10000 div " +
        "CAST(l_quantity AS LONG)").as("unit_micro"),
        col("l_quantity").cast("long").as("qty"))
    val counts = u.groupBy(col("unit_micro"))
      .agg(sum(col("qty")).as("w"), count(lit(1)).as("c"))
    val cum = PrefixScan.prefixSumsInclusive(counts, 16,
      Seq(col("unit_micro")), Seq((col("w"), "cw"), (col("c"), "cc")))
    val totals = u.agg(sum(col("qty")).as("tw"), count(lit(1)).as("tc"))
    cum.crossJoin(broadcast(totals))
      .agg(
        min(when(col("cw") >= expr("(tw + 1) div 2"), col("unit_micro")))
          .as("weighted_median_micro"),
        min(when(col("cc") >= expr("(tc + 1) div 2"), col("unit_micro")))
          .as("plain_median_micro"),
        min(col("tw")).as("total_units"), min(col("tc")).as("n_lines"))
  }

  val q252Sql: String =
    """WITH u AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) * 10000
      |      // CAST(l_quantity AS BIGINT) AS unit_micro,
      |    CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem
      |), c AS (
      |  SELECT unit_micro, CAST(sum(qty) AS BIGINT) AS w,
      |    count(*) AS c
      |  FROM u GROUP BY unit_micro
      |), cum AS (
      |  SELECT unit_micro,
      |    CAST(sum(w) OVER (ORDER BY unit_micro
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cw,
      |    CAST(sum(c) OVER (ORDER BY unit_micro
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cc
      |  FROM c
      |), t AS (
      |  SELECT CAST(sum(qty) AS BIGINT) AS tw, count(*) AS tc FROM u
      |)
      |SELECT
      |  min(CASE WHEN cw >= (tw + 1) // 2 THEN unit_micro END)
      |    AS weighted_median_micro,
      |  min(CASE WHEN cc >= (tc + 1) // 2 THEN unit_micro END)
      |    AS plain_median_micro,
      |  min(tw) AS total_units, min(tc) AS n_lines
      |FROM cum, t""".stripMargin

  // --------------------------------------------------------------- q253

  /** q253: cumulative gains curve — ranking users by click count
    * (q175's propensity score), the share of ALL buyers captured by
    * the top 10%, 20%, …, 100% in exact ppm against the diagonal
    * (random targeting captures k·10⁵ at decile k). The curve marketing
    * reads before q175's per-decile lift: "call the top 30%" captures
    * this fraction of buyers.
    *
    * Scale shape: per-user fold, two-phase rank, decile cut by
    * arithmetic, cumulation across the ≤10 deciles via a broadcast
    * triangle join (the q196 shape — never a window over users).
    */
  def q253_gains_curve(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("n_clicks"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("bought"))
    val ranked = DenseIds.withDenseId(users, "rid", 16,
      col("n_clicks").desc, col("user_id"))
    val totals = ranked.agg(count(lit(1)).as("n"), sum(col("bought")).as("nb"))
    val perDecile = ranked.crossJoin(broadcast(totals))
      .select(expr("rid * 10 div n").as("decile"), col("bought"), col("nb"))
      .groupBy(col("decile"), col("nb"))
      .agg(sum(col("bought")).as("buyers"))
    val ks = s.range(1, 11).select((col("id") - 1).as("k"))
    perDecile.join(broadcast(ks), col("decile") <= col("k"))
      .groupBy(col("k"), col("nb"))
      .agg(sum(col("buyers")).as("cum_buyers"))
      .select((col("k") + 1).as("top_deciles"), col("cum_buyers"),
        expr("cum_buyers * 1000000 div nb").as("gain_ppm"),
        ((col("k") + 1) * 100000).as("random_ppm"))
      .orderBy(col("top_deciles"))
  }

  val q253Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_clicks,
      |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS bought
      |  FROM events GROUP BY user_id
      |), r AS (
      |  SELECT bought,
      |    row_number() OVER (ORDER BY n_clicks DESC, user_id) - 1 AS rid
      |  FROM u
      |), t AS (
      |  SELECT count(*) AS n, CAST(sum(bought) AS BIGINT) AS nb FROM u
      |), d AS (
      |  SELECT rid * 10 // n AS decile, nb,
      |    CAST(sum(bought) AS BIGINT) AS buyers
      |  FROM r, t GROUP BY decile, nb
      |), ks AS (SELECT unnest(range(0, 10)) AS k)
      |SELECT k + 1 AS top_deciles,
      |  CAST(sum(buyers) AS BIGINT) AS cum_buyers,
      |  CAST(sum(buyers) * 1000000 // nb AS BIGINT) AS gain_ppm,
      |  CAST((k + 1) * 100000 AS BIGINT) AS random_ppm
      |FROM d JOIN ks ON decile <= k
      |GROUP BY k, nb
      |ORDER BY top_deciles""".stripMargin

  // --------------------------------------------------------------- q254

  /** q254: autocomplete prefix table — for every 3-character prefix of
    * corpus tokens (length ≥ 3), the most frequent completion (ties to
    * the alphabetically smaller token) and its share of the prefix's
    * occurrences in ppm. First 50 prefixes. The search-box primitive —
    * and the struct-min argmax discipline once more, over a
    * prefix-keyed frame.
    *
    * Scale shape: one token-count pass (map-side combined), prefix
    * projection, a prefix-keyed argmax fold; TakeOrderedAndProject.
    */
  def q254_prefix_completions(s: SparkSession, dir: String): DataFrame = {
    val tokCounts = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) >= 3)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .withColumn("prefix", col("tok").substr(1, 3))
    val totals = tokCounts.groupBy(col("prefix"))
      .agg(sum(col("n")).as("prefix_n"))
    tokCounts.groupBy(col("prefix"))
      .agg(min(struct((-col("n")).as("nn"), col("tok").as("tk"))).as("best"))
      .join(totals, "prefix")
      .select(col("prefix"), col("best.tk").as("completion"),
        (-col("best.nn")).as("n_occurrences"), col("prefix_n"),
        expr("(-best.nn) * 1000000 div prefix_n").as("share_ppm"))
      .orderBy(col("prefix"))
      .limit(50)
  }

  val q254Sql: String =
    """WITH tc AS (
      |  SELECT tok, count(*) AS n FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |  ) WHERE length(tok) >= 3
      |  GROUP BY tok
      |), p AS (
      |  SELECT substring(tok, 1, 3) AS prefix, tok, n FROM tc
      |), best AS (
      |  SELECT prefix, tok AS completion, n,
      |    row_number() OVER (PARTITION BY prefix ORDER BY n DESC, tok)
      |      AS rn
      |  FROM p
      |), tot AS (
      |  SELECT prefix, CAST(sum(n) AS BIGINT) AS prefix_n
      |  FROM p GROUP BY prefix
      |)
      |SELECT best.prefix, completion, CAST(n AS BIGINT) AS n_occurrences,
      |  prefix_n, CAST(n * 1000000 // prefix_n AS BIGINT) AS share_ppm
      |FROM best JOIN tot ON best.prefix = tot.prefix
      |WHERE rn = 1
      |ORDER BY best.prefix
      |LIMIT 50""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q252_weighted_median", q252_weighted_median _, q252Sql),
    Query("q253_gains_curve", q253_gains_curve _, q253Sql),
    Query("q254_prefix_completions", q254_prefix_completions _, q254Sql)
  )
}
