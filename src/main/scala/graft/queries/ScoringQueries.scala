package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{FpSafe, Tables, UrlOps}
import graft.ops.{CtrNormalize, Scoring}
import graft.ops.Scoring.{Bucket, ScoringConfig}

/** The reference's scoring/anomaly surface (SURVEY §2 F1, F4, F8-F11, C4-C5,
  * H1-H2, §3.3) exercised over testdata: a GSC-shaped rollup of lineitem keyed
  * by part, scored with a config compiled to CASE expressions, plus the
  * url_normalize UDF and the data-dependent CTR normalizer — each with a
  * closed-form DuckDB oracle.
  */
object ScoringQueries extends QueryGroup {
  import FpSafe._

  /** Triage scoring config (units=percent and uplift exercise
    * `_normalize_expected_ctr_value`; values tuned so the synthetic ctr
    * distribution (~0.002) straddles the thresholds and the underperf filter
    * genuinely discriminates).
    */
  val triageCfg: ScoringConfig = ScoringConfig(
    buckets = Bucket.fromConfig(Seq("1-2" -> 0.3, "2.1-3" -> 0.25, "3-4.5" -> 0.2, "4.51-4.7" -> 0.15)),
    units = "percent",
    uplift = 0.1,
    margin = 0.0002,
    maxPosition = 5.0,
    minClicks = 0.0,
    intentMultipliers = Map("transactional" -> 1.4, "informational" -> 0.7),
    urlIntentHints = Seq("-bolt-" -> "informational", "-widget-" -> "transactional"))

  /** GSC-shaped rollup: one row per part with url, clicks, impressions,
    * position (weighted mean line number), ctr — the §7.2 minimum slice
    * feeding the triage pipeline.
    */
  private def gscShaped(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val rolled = li
      .select(col("l_partkey"),
        round(col("l_discount") * 100).cast("long").as("disc_pts"),
        round(col("l_quantity") * 100).cast("long").as("qty_cents"),
        col("l_linenumber").cast("long").as("ln"))
      .groupBy(col("l_partkey"))
      .agg(
        sum(col("disc_pts")).as("clicks"),
        sum(col("qty_cents")).as("impressions"),
        (sum(col("ln") * col("qty_cents")).cast("double") / sum(col("qty_cents"))).as("position"))
      .withColumn("ctr",
        col("clicks") / when(col("impressions") === 0, lit(null)).otherwise(col("impressions")))
    val p = Tables.part(s, dir).select(
      col("p_partkey"),
      concat(lit("https://shop.example.com/"), regexp_replace(col("p_name"), " ", "-"),
        lit("-"), col("p_partkey").cast("string")).as("url"),
      when(col("p_type") === "PROMO", lit("Product"))
        .when(col("p_type") === "STANDARD", lit("BlogPosting"))
        .otherwise(col("p_type")).as("schema_types"))
    rolled.join(broadcast(p), col("l_partkey") === col("p_partkey"), "inner")
      .drop("p_partkey")
  }

  /** q11: the full anomaly/triage pipeline (`etl_merge.py:904-984`):
    * median-fallback expected CTR, deficit, intent multiplier, missed
    * clicks, underperformance filter, opportunity rank.
    */
  def q11_anomaly_triage(s: SparkSession, dir: String): DataFrame =
    // the rollup (one row per part) is scanned twice by the triage (median
    // pass + candidate pass) — persist the small aggregated frame, not the
    // fact table; scoped so the cache releases after the consuming action
    Scoring.anomalyTriage(graft.core.CacheScope.scoped(gscShaped(s, dir)), triageCfg)
      .select(col("url"), col("position"), col("ctr"), col("impressions"), col("clicks"),
        col("schema_types"), col("expected_ctr"), col("expected_ctr_bucket"),
        col("ctr_deficit"), col("intent_multiplier"), col("missed_clicks"),
        col("priority_rank"), col("intent_note"))
      .orderBy(col("priority_rank"))

  val q11Sql: String =
    """WITH rolled AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS clicks,
      |    CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS impressions,
      |    CAST(sum(CAST(l_linenumber AS BIGINT) * CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)
      |      / CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE) AS position
      |  FROM lineitem GROUP BY l_partkey
      |), gsc AS (
      |  SELECT r.*, clicks / nullif(impressions, 0) AS ctr,
      |    'https://shop.example.com/' || replace(p_name, ' ', '-') || '-' || CAST(p_partkey AS VARCHAR) AS url,
      |    CASE WHEN p_type = 'PROMO' THEN 'Product'
      |         WHEN p_type = 'STANDARD' THEN 'BlogPosting'
      |         ELSE p_type END AS schema_types
      |  FROM rolled r JOIN part ON l_partkey = p_partkey
      |), med AS (SELECT median(ctr) AS ctr_median FROM gsc
      |), cand AS (
      |  SELECT gsc.*, med.ctr_median FROM gsc, med
      |  WHERE position IS NOT NULL AND ctr IS NOT NULL AND impressions IS NOT NULL
      |    AND position <= 5.0
      |), scored AS (
      |  SELECT *,
      |    CASE WHEN position BETWEEN 1 AND 2 THEN (0.3/100.0)*(1.0+0.1)
      |         WHEN position BETWEEN 2.1 AND 3 THEN (0.25/100.0)*(1.0+0.1)
      |         WHEN position BETWEEN 3 AND 4.5 THEN (0.2/100.0)*(1.0+0.1)
      |         WHEN position BETWEEN 4.51 AND 4.7 THEN (0.15/100.0)*(1.0+0.1)
      |         ELSE (ctr_median/100.0)*(1.0+0.1) END AS expected_ctr,
      |    CASE WHEN position BETWEEN 1 AND 2 THEN '1-2'
      |         WHEN position BETWEEN 2.1 AND 3 THEN '2.1-3'
      |         WHEN position BETWEEN 3 AND 4.5 THEN '3-4.5'
      |         WHEN position BETWEEN 4.51 AND 4.7 THEN '4.51-4.7'
      |         ELSE 'fallback_median' END AS expected_ctr_bucket,
      |    -- CAST: bare decimal literals make this CASE DECIMAL(2,1) in DuckDB
      |    -- while Spark's column is DOUBLE — benign in pandas (both float64)
      |    -- but the fleet type sweep's invariant is types agree EXACTLY
      |    CAST(CASE WHEN contains(url, '-bolt-') THEN 0.7
      |         WHEN contains(url, '-widget-') THEN 1.4
      |         WHEN contains(lower(schema_types), 'product') THEN 1.4
      |         WHEN contains(lower(schema_types), 'article')
      |           OR contains(lower(schema_types), 'blogposting') THEN 0.7
      |         ELSE 1.0 END AS DOUBLE) AS intent_multiplier
      |  FROM cand
      |), dfc AS (
      |  SELECT *,
      |    CASE WHEN (expected_ctr - ctr - 0.0002) IS NULL THEN NULL
      |         ELSE greatest(expected_ctr - ctr - 0.0002, 0.0) END AS ctr_deficit
      |  FROM scored
      |), mc AS (
      |  SELECT *, coalesce(ctr_deficit * coalesce(CAST(impressions AS DOUBLE), 0.0)
      |                     * coalesce(intent_multiplier, 1.0), 0.0) AS missed_clicks
      |  FROM dfc
      |)
      |SELECT url, position, ctr, impressions, clicks, schema_types, expected_ctr,
      |  expected_ctr_bucket, ctr_deficit, intent_multiplier, missed_clicks,
      |  CAST(row_number() OVER (ORDER BY missed_clicks DESC, url) AS INT) AS priority_rank,
      |  '' AS intent_note
      |FROM mc WHERE missed_clicks > 0
      |ORDER BY priority_rank""".stripMargin

  /** q12: url_normalize (SURVEY §2 F1) over synthesized dirty URLs, with the
    * expected normalized forms written closed-form in the oracle — a real
    * value-level oracle for the custom UDF: host/scheme lowercasing, utm_*
    * stripping with param re-encode, trailing-slash & fragment removal,
    * path-only SITE_BASE prefixing, strip-all-params mode.
    */
  def q12_url_normalize(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val raw1 = concat(
      lit("HTTPS://Shop.Example.COM/products/"), regexp_replace(col("p_name"), " ", "-"),
      lit("-"), col("p_partkey").cast("string"),
      lit("/?utm_source=feed&ref="), col("p_size").cast("string"), lit("&utm_campaign=x#frag"))
    val raw2 = concat(lit("/Pages/About-"), col("p_partkey").cast("string"), lit("/"))
    p.select(
      col("p_partkey"),
      UrlOps.urlNormalize(raw1).as("norm_full"),
      UrlOps.urlNormalize(raw2).as("norm_path"),
      UrlOps.urlNormalize(raw2, siteBase = "https://Example.org/").as("norm_sitebase"),
      UrlOps.urlNormalize(raw1, stripAllParams = true).as("norm_stripall"))
      .orderBy(col("p_partkey"))
  }

  val q12Sql: String =
    """SELECT p_partkey,
      |  'https://shop.example.com/products/' || replace(p_name, ' ', '-') || '-'
      |    || CAST(p_partkey AS VARCHAR) || '?ref=' || CAST(p_size AS VARCHAR) AS norm_full,
      |  '/Pages/About-' || CAST(p_partkey AS VARCHAR) AS norm_path,
      |  'https://example.org/Pages/About-' || CAST(p_partkey AS VARCHAR) AS norm_sitebase,
      |  'https://shop.example.com/products/' || replace(p_name, ' ', '-') || '-'
      |    || CAST(p_partkey AS VARCHAR) AS norm_stripall
      |FROM part ORDER BY p_partkey""".stripMargin

  /** q13: normalize_ctr, percent branch (SURVEY §2 F4): a synthesized string
    * CTR column where 1/3 of rows carry '%' → the whole column divides by
    * 100. Per-row output (aggregating the normalized doubles would be
    * order-dependent).
    *
    * Plan shape: NO cache. The decision aggregate, the sort's
    * range-sampling job, and the final sort each re-evaluate the string
    * synthesis from the parquet scan — and with the synthesis fully
    * codegen'd that recompute is CHEAPER than materializing a 600k-row
    * string frame into the columnar cache (measured round 4 at sf0.1:
    * no-persist 2.31 s vs persist 3.19 s; cache materialization alone
    * costs ~0.9 s over the plain pass). The round-2 regression that
    * motivated the persist predated the codegen work; the measurement has
    * since flipped. The 4-column sort key is kept deliberately:
    * (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem
    * (~24% of pairs duplicate), so the full key is the cheapest total
    * order available.
    *
    * REGIME BOUND (round-11 10×-rung kc=0.90): output = input — the
    * normalize_ctr contract emits every row (per-row normalized value),
    * plus the data-dependent decision needs one full-column aggregate
    * pass BEFORE any output row is computable (two-pass by semantics,
    * etl_merge.py's normalize_ctr reads the whole column too). Both
    * passes are codegen scan→project/agg work that parallelizes with
    * partitions; the sort is the output-order contract. Same per-row
    * asymptote regime as q14 (documented k≈1.0) and q33.
    */
  def q13_normalize_ctr_percent(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val disc = round(col("l_discount") * 100).cast("int")
    val df = li.select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      (when(col("l_linenumber") % 3 === 0, concat(disc.cast("string"), lit("%")))
        .when(col("l_linenumber") % 3 === 1, concat(lit("0."), lpad(disc.cast("string"), 2, "0")))
        .otherwise((disc + 1).cast("string"))).as("ctr_str"))
    CtrNormalize(df, "ctr_str", "ctr_norm")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
  }

  val q13Sql: String =
    """WITH src AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    CASE WHEN l_linenumber % 3 = 0
      |           THEN CAST(CAST(round(l_discount*100) AS INT) AS VARCHAR) || '%'
      |         WHEN l_linenumber % 3 = 1
      |           THEN '0.' || lpad(CAST(CAST(round(l_discount*100) AS INT) AS VARCHAR), 2, '0')
      |         ELSE CAST(CAST(round(l_discount*100) AS INT) + 1 AS VARCHAR) END AS ctr_str
      |  FROM lineitem
      |), dec AS (
      |  SELECT max(CASE WHEN contains(ctr_str, '%') THEN 1 ELSE 0 END) = 1 AS saw_pct,
      |    avg(CASE WHEN TRY_CAST(trim(replace(replace(ctr_str, '%', ''), ',', '')) AS DOUBLE) > 1.0
      |              AND TRY_CAST(trim(replace(replace(ctr_str, '%', ''), ',', '')) AS DOUBLE) <= 100.0
      |             THEN 1.0 ELSE 0.0 END) AS frac_mid
      |  FROM src
      |)
      |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, ctr_str,
      |  CASE WHEN saw_pct OR frac_mid > 0.5
      |       THEN TRY_CAST(trim(replace(replace(ctr_str, '%', ''), ',', '')) AS DOUBLE) / 100.0
      |       ELSE TRY_CAST(trim(replace(replace(ctr_str, '%', ''), ',', '')) AS DOUBLE) END AS ctr_norm
      |FROM src, dec
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  /** q14: normalize_ctr, majority-heuristic branches — no '%' anywhere;
    * ctr_a has 2/3 of rows in (1,100] → divides; ctr_b has 1/3 → parses
    * verbatim. Exercises both heuristic outcomes in one query.
    * Same no-cache shape as q13 (see there for the measured rationale).
    */
  def q14_normalize_ctr_heuristic(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val disc = round(col("l_discount") * 100).cast("int")
    val frac = concat(lit("0."), lpad(disc.cast("string"), 2, "0"))
    val mid1 = (disc + 1).cast("string")
    val mid2 = (disc + 2).cast("string")
    val df = li.select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      (when(col("l_linenumber") % 3 === 0, mid1)
        .when(col("l_linenumber") % 3 === 1, mid2).otherwise(frac)).as("ctr_a"),
      (when(col("l_linenumber") % 3 === 0, frac)
        .when(col("l_linenumber") % 3 === 1, frac).otherwise(mid1)).as("ctr_b"))
    CtrNormalize.applyMany(df, Seq("ctr_a" -> "ctr_a_norm", "ctr_b" -> "ctr_b_norm"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("ctr_a_norm"), col("ctr_b_norm"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
  }

  val q14Sql: String =
    """WITH src AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    CASE WHEN l_linenumber % 3 = 0 THEN CAST(CAST(round(l_discount*100) AS INT) + 1 AS VARCHAR)
      |         WHEN l_linenumber % 3 = 1 THEN CAST(CAST(round(l_discount*100) AS INT) + 2 AS VARCHAR)
      |         ELSE '0.' || lpad(CAST(CAST(round(l_discount*100) AS INT) AS VARCHAR), 2, '0') END AS ctr_a,
      |    CASE WHEN l_linenumber % 3 = 2 THEN CAST(CAST(round(l_discount*100) AS INT) + 1 AS VARCHAR)
      |         ELSE '0.' || lpad(CAST(CAST(round(l_discount*100) AS INT) AS VARCHAR), 2, '0') END AS ctr_b
      |  FROM lineitem
      |), deca AS (
      |  SELECT avg(CASE WHEN TRY_CAST(ctr_a AS DOUBLE) > 1.0 AND TRY_CAST(ctr_a AS DOUBLE) <= 100.0
      |                  THEN 1.0 ELSE 0.0 END) > 0.5 AS div_a FROM src
      |), decb AS (
      |  SELECT avg(CASE WHEN TRY_CAST(ctr_b AS DOUBLE) > 1.0 AND TRY_CAST(ctr_b AS DOUBLE) <= 100.0
      |                  THEN 1.0 ELSE 0.0 END) > 0.5 AS div_b FROM src
      |)
      |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  CASE WHEN div_a THEN TRY_CAST(ctr_a AS DOUBLE) / 100.0 ELSE TRY_CAST(ctr_a AS DOUBLE) END AS ctr_a_norm,
      |  CASE WHEN div_b THEN TRY_CAST(ctr_b AS DOUBLE) / 100.0 ELSE TRY_CAST(ctr_b AS DOUBLE) END AS ctr_b_norm
      |FROM src, deca, decb
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q11_anomaly_triage", q11_anomaly_triage _, q11Sql),
    Query("q12_url_normalize", q12_url_normalize _, q12Sql),
    Query("q13_normalize_ctr_percent", q13_normalize_ctr_percent _, q13Sql),
    Query("q14_normalize_ctr_heuristic", q14_normalize_ctr_heuristic _, q14Sql)
  )
}
