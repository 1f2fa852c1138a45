package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 23: dedup observability and calendar-aligned growth —
  * exact-integer, DuckDB-oracle-gated. (The batch also lands the
  * streaming CUSUM twin `StreamOps.cusumAlerts` — q187's sequential
  * recurrence as O(1) keyed state, pinned streaming ≡ batch in
  * StreamingSpec.)
  *
  *  - q199: near-dup edit profile — WHAT changed between each cluster
  *    member and its canonical representative, as exact multiset token
  *    distances.
  *  - q200: year-over-year monthly revenue growth — the calendar-aligned
  *    BI staple, exact ppm.
  */
object ExtensionQueries35 extends QueryGroup {

  // --------------------------------------------------------------- q199

  /** q199: near-dup edit profile — for every non-canonical member of a
    * q42 MinHash cluster, the exact multiset token distance to the
    * cluster representative: `edit = Σ_tok |cnt_member − cnt_rep|`
    * (insertions + deletions of token occurrences), plus both lengths.
    * The dedup DIFF report: q142 says which doc survives, this says how
    * far the dropped ones were — near-identical members (edit ≈ 0)
    * justify the drop, distant ones flag an over-eager threshold.
    *
    * Scale shape: per-doc token counts are one explode + count pass;
    * member and rep counts meet in a (pair, token)-keyed full outer
    * join — co-partitioned, bounded by member count × doc length, never
    * corpus×corpus; the fold is pair-keyed.
    */
  def q199_neardup_diff(s: SparkSession, dir: String): DataFrame = {
    val tc = ExtensionQueries2.q42Corpus(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val pairs = ExtensionQueries2.q42ClustersStaged(s, dir)
      .filter(col("id") =!= col("rep"))
    val m = pairs.join(tc, col("id") === col("doc_id"))
      .select(col("rep"), col("id"), col("tok"), col("cnt").as("cm"))
    val r = pairs.join(tc, col("rep") === col("doc_id"))
      .select(col("rep"), col("id"), col("tok"), col("cnt").as("cr"))
    m.join(r, Seq("rep", "id", "tok"), "full_outer")
      .select(col("rep"), col("id"),
        abs(coalesce(col("cm"), lit(0L)) - coalesce(col("cr"), lit(0L)))
          .as("d"),
        coalesce(col("cm"), lit(0L)).as("cm0"),
        coalesce(col("cr"), lit(0L)).as("cr0"))
      .groupBy(col("rep"), col("id"))
      .agg(sum(col("d")).as("edit_tokens"),
        sum(col("cm0")).as("member_tokens"),
        sum(col("cr0")).as("rep_tokens"))
      .orderBy(col("rep"), col("id"))
  }

  val q199Sql: String =
    s"""${ExtensionQueries2.q42ClusterCtes},
       |dtc AS (
       |  SELECT doc_id, tok, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM allv
       |  ) GROUP BY doc_id, tok
       |), dpr AS (
       |  SELECT rep, id FROM lbl WHERE id <> rep
       |), dm AS (
       |  SELECT dpr.rep, dpr.id, dtc.tok, dtc.cnt AS cm
       |  FROM dpr JOIN dtc ON dpr.id = dtc.doc_id
       |), dr AS (
       |  SELECT dpr.rep, dpr.id, dtc.tok, dtc.cnt AS cr
       |  FROM dpr JOIN dtc ON dpr.rep = dtc.doc_id
       |)
       |SELECT COALESCE(dm.rep, dr.rep) AS rep, COALESCE(dm.id, dr.id) AS id,
       |  CAST(sum(abs(COALESCE(cm, 0) - COALESCE(cr, 0))) AS BIGINT)
       |    AS edit_tokens,
       |  CAST(sum(COALESCE(cm, 0)) AS BIGINT) AS member_tokens,
       |  CAST(sum(COALESCE(cr, 0)) AS BIGINT) AS rep_tokens
       |FROM dm FULL OUTER JOIN dr
       |  ON dm.rep = dr.rep AND dm.id = dr.id AND dm.tok = dr.tok
       |GROUP BY COALESCE(dm.rep, dr.rep), COALESCE(dm.id, dr.id)
       |ORDER BY rep, id""".stripMargin

  // --------------------------------------------------------------- q200

  /** q200: year-over-year monthly revenue growth — each month's order
    * revenue against the SAME calendar month one year earlier, growth in
    * exact ppm (`(rev − prev)·10⁶ div prev`, truncation toward zero on
    * both engines — negative growth included). The calendar-aligned
    * growth readout that naive month-over-month deltas get wrong under
    * seasonality (q140's point, applied to finance).
    *
    * Scale shape: one month-keyed aggregate (map-side combined), then a
    * self-join of the MONTHS frame on `month_id − 12` — tiny and
    * key-partitioned; no windows.
    */
  def q200_yoy_growth(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .select(
        (year(col("o_orderdate").cast("date")) * 12 +
          month(col("o_orderdate").cast("date")) - 1).cast("long")
          .as("month_id"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("month_id")).agg(sum(col("cents")).as("cents"))
    val prev = monthly.select((col("month_id") + 12).as("month_id"),
      col("cents").as("prev_cents"))
    monthly.join(prev, "month_id")
      .select(col("month_id"), col("cents").as("revenue_cents"),
        col("prev_cents"),
        expr("(cents - prev_cents) * 1000000 div prev_cents")
          .as("growth_ppm"))
      .orderBy(col("month_id"))
  }

  val q200Sql: String =
    """WITH m AS (
      |  SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
      |      + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS month_id,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY month_id
      |)
      |SELECT cur.month_id, cur.cents AS revenue_cents,
      |  prev.cents AS prev_cents,
      |  CAST((cur.cents - prev.cents) * 1000000 // prev.cents AS BIGINT)
      |    AS growth_ppm
      |FROM m cur JOIN m prev ON cur.month_id = prev.month_id + 12
      |ORDER BY cur.month_id""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q199_neardup_diff", q199_neardup_diff _, q199Sql),
    Query("q200_yoy_growth", q200_yoy_growth _, q200Sql)
  )
}
