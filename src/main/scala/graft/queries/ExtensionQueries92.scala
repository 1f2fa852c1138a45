package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Ranks
import QueryBlocks.raterLabel

/** Agreement with missing data, symbolic series, and
  * market concentration.
  *
  *  - q367 Krippendorff's alpha (nominal) — the agreement coefficient
  *    that HANDLES MISSING RATINGS, which q320's Fleiss κ cannot (κ
  *    needs every item rated by all raters). Same three pseudo-raters
  *    as q320, but each (item, rater) vote goes missing ~20% of the
  *    time; items keep contributing with whatever m_i ≥ 2 ratings
  *    remain. The coincidence fractions 1/(m_i−1) are cleared by a
  *    global ×2 (m_i ∈ {2,3}), so everything stays integer-exact.
  *  - q368 SAX symbolization of the weekly revenue series (Lin et al.
  *    2003): PAA segment means → rank-based alphabet — the symbolic
  *    form that turns a numeric series into words for motif/anomaly
  *    mining. Breakpoints are RANK quartiles (exact integers), not
  *    Gaussian breakpoints (which need μ/σ floats).
  *  - q369 Herfindahl–Hirschman concentration of supplier revenue per
  *    nation — Σ share² in exact ppm via DECIMAL(38,0) sums of squared
  *    cents (no early per-share division). The concentration complement
  *    to q162's Gini (inequality) and q246's single-source risk.
  */
object ExtensionQueries92 extends QueryGroup {

  // --------------------------------------------------------------- q367

  /** ~20% of (item, rater) votes are missing — a '+' -salted hash so
    * missingness is independent of the label flip.
    */
  private def raterPresent(r: Int) = expr(
    s"conv(substring(md5(concat(cast(o_orderkey as string), '+', '$r')), 1, 8), 16, 10)"
  ).cast("long") % 5 =!= 0

  /** q367: nominal Krippendorff alpha over the present votes.
    * α = 1 − (n−1)·Σ_{c≠k}o_ck / Σ_{c≠k}n_c·n_k with coincidences
    * o_ck = Σ_i n_ic(n_ik − δ_ck)/(m_i−1); the ×2 scaling clears the
    * 1/(m_i−1) fractions. Scale shape: one pass to (item, label)
    * counts, one 2-level rollup; the label margin is ≤3 rows.
    */
  def q367_krippendorff_alpha(s: SparkSession, dir: String): DataFrame = {
    val votes = Tables.orders(s, dir).select(col("o_orderkey").as("item"),
        explode(filter(array((1 to 3).map(r =>
          struct(raterLabel(r).cast("long").as("label"),
            raterPresent(r).as("ok"))): _*),
          x => x.getField("ok"))).as("v"))
      .select(col("item"), col("v.label").as("label"))
    val nij = votes.groupBy(col("item"), col("label"))
      .agg(count(lit(1)).as("nij"))
    val items = nij.groupBy(col("item"))
      .agg(sum(col("nij")).as("m"), sum(col("nij") * col("nij")).as("ssq"))
      .filter(col("m") >= 2)
    val rated = nij.join(items.select(col("item")), "item")
    // o'_off = Σ_i 2(m_i² − Σ_c n_ic²)/(m_i − 1); margins n'_c = 2·Σ_i n_ic
    val oOff = items.agg(
      sum(expr("2 * (m * m - ssq) div (m - 1)")).as("o_off_s2"))
    val margins = rated.groupBy(col("label"))
      .agg((sum(col("nij")) * 2).as("nc_s2"))
      .agg(sum(col("nc_s2")).as("n_s2"),
        sum(col("nc_s2") * col("nc_s2")).as("nc_ssq"))
    val counts = items.agg(count(lit(1)).as("n_items"), sum(col("m")).as("n_ratings"))
    counts.crossJoin(broadcast(oOff)).crossJoin(broadcast(margins))
      .select(col("n_items"), col("n_ratings"), col("o_off_s2"),
        (col("n_s2") * col("n_s2") - col("nc_ssq")).as("margin_denom"),
        expr("CAST(1000000 - CAST((n_s2 - 2) AS DECIMAL(38,0)) * o_off_s2 * 1000000 " +
          "div (n_s2 * n_s2 - nc_ssq) AS BIGINT)").as("alpha_ppm"))
  }

  val q367Sql: String =
    """WITH votes AS (
      |  SELECT o_orderkey AS item,
      |    CASE WHEN ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '-' ||
      |        CAST(r AS VARCHAR)), 1, 8))::BIGINT % 10 < 2
      |      THEN (o_orderkey % 3 + 1 +
      |        ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '-' ||
      |          CAST(r AS VARCHAR)), 1, 8))::BIGINT % 10 % 2) % 3
      |      ELSE o_orderkey % 3 END AS label
      |  FROM orders, (SELECT unnest(range(1, 4)) AS r)
      |  WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '+' ||
      |      CAST(r AS VARCHAR)), 1, 8))::BIGINT % 5 <> 0
      |), nij AS (
      |  SELECT item, label, count(*) AS nij FROM votes GROUP BY 1, 2
      |), items AS (
      |  SELECT item, CAST(sum(nij) AS BIGINT) AS m,
      |    CAST(sum(nij * nij) AS BIGINT) AS ssq
      |  FROM nij GROUP BY 1 HAVING sum(nij) >= 2
      |), ooff AS (
      |  SELECT CAST(sum(2 * (m * m - ssq) // (m - 1)) AS BIGINT) AS o_off_s2
      |  FROM items
      |), margins AS (
      |  SELECT CAST(sum(nc_s2) AS BIGINT) AS n_s2,
      |    CAST(sum(nc_s2 * nc_s2) AS BIGINT) AS nc_ssq
      |  FROM (SELECT CAST(sum(nij) * 2 AS BIGINT) AS nc_s2
      |        FROM nij JOIN items USING (item) GROUP BY label)
      |), counts AS (
      |  SELECT count(*) AS n_items, CAST(sum(m) AS BIGINT) AS n_ratings FROM items
      |)
      |SELECT n_items, n_ratings, o_off_s2,
      |  CAST(n_s2 * n_s2 - nc_ssq AS BIGINT) AS margin_denom,
      |  CAST(1000000 - (n_s2 - 2) * o_off_s2 * 1000000
      |    // (n_s2 * n_s2 - nc_ssq) AS BIGINT) AS alpha_ppm
      |FROM counts, ooff, margins""".stripMargin

  // --------------------------------------------------------------- q368

  /** q368: weekly-PAA SAX of daily order revenue — per 7-day segment:
    * covered days, PAA mean (cents), rank among segments, and the
    * 4-letter symbol chr(97 + (rk−1)·4 div n). Scale shape: daily and
    * weekly rollups are map-combined shuffles; the segment frame is
    * calendar-bounded, so the global rank rides [[Ranks.bounded]].
    */
  def q368_sax(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev_c"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    val segs = daily.crossJoin(broadcast(d0))
      .groupBy(expr("(day - d0) div 7").as("seg"))
      .agg(count(lit(1)).as("n_days"),
        expr("sum(rev_c) div count(1)").as("paa_cents"))
    val tot = segs.agg(count(lit(1)).as("n_segs"))
    segs.withColumn("rk",
        row_number().over(Ranks.bounded(col("seg"), col("paa_cents"), col("seg")))
          .cast("long"))
      .crossJoin(broadcast(tot))
      .select(col("seg"), col("n_days"), col("paa_cents"), col("rk"),
        expr("char(97 + (rk - 1) * 4 div n_segs)").as("symbol"))
      .orderBy(col("seg"))
  }

  val q368Sql: String =
    """WITH daily AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM orders GROUP BY 1
      |), m AS (SELECT min(day) AS d0 FROM daily),
      |segs AS (
      |  SELECT (day - m.d0) // 7 AS seg, count(*) AS n_days,
      |    CAST(sum(rev_c) AS BIGINT) // count(*) AS paa_cents
      |  FROM daily, m GROUP BY 1
      |), t AS (SELECT count(*) AS n_segs FROM segs),
      |r AS (
      |  SELECT seg, n_days, paa_cents,
      |    CAST(row_number() OVER (ORDER BY paa_cents, seg) AS BIGINT) AS rk
      |  FROM segs
      |)
      |SELECT seg, n_days, paa_cents, rk,
      |  chr(97 + CAST((rk - 1) * 4 // t.n_segs AS INT)) AS symbol
      |FROM r, t ORDER BY seg""".stripMargin

  // --------------------------------------------------------------- q369

  /** q369: HHI of supplier revenue within each nation, exact ppm:
    * Σ rev_s² · 1e6 div (Σ rev_s)² through DECIMAL(38,0). Scale shape:
    * the supplier rollup aggregates lineitem BEFORE the broadcast
    * joins to the supplier/nation dims; the per-nation fold is 25
    * groups.
    */
  def q369_hhi(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("rev_c"))
    val dims = broadcast(Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey")))
    sup.join(dims, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("rev_c")).as("rev_cents"),
        sum(expr("CAST(rev_c AS DECIMAL(38,0)) * rev_c")).as("ssq"))
      .select(col("nation"), col("n_suppliers"), col("rev_cents"),
        expr("CAST(ssq * 1000000 div (CAST(rev_cents AS DECIMAL(38,0)) * rev_cents) AS BIGINT)")
          .as("hhi_ppm"))
      .orderBy(col("nation"))
  }

  val q369Sql: String =
    """WITH sup AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT n.n_name AS nation, count(*) AS n_suppliers,
      |  CAST(sum(rev_c) AS BIGINT) AS rev_cents,
      |  CAST(sum(CAST(rev_c AS HUGEINT) * rev_c) * 1000000
      |    // (sum(rev_c) * sum(rev_c)) AS BIGINT) AS hhi_ppm
      |FROM sup JOIN supplier s ON s.s_suppkey = sup.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |GROUP BY n.n_name ORDER BY nation""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q367_krippendorff_alpha", q367_krippendorff_alpha _, q367Sql),
    Query("q368_sax", q368_sax _, q368Sql),
    Query("q369_hhi", q369_hhi _, q369Sql)
  )
}
