package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-12 batch 1: the privacy RELEASE-AUDIT tier — the three
  * questions a data-release review asks after q313's k-anonymity
  * histogram says "these groups are small":
  *
  *  - q317 l-diversity (Machanavajjhala et al. 2007): a k-anonymous
  *    group is still disclosive if everyone in it shares the SENSITIVE
  *    value — the distinct-sensitive-value count per QI group is the
  *    guard, reported as the l histogram.
  *  - q318 t-closeness (Li, Li, Venkatasubramanian 2007): l-diversity
  *    misses skew — a group can hold diverse values in very different
  *    proportions than the corpus. For an ORDERED sensitive attribute,
  *    t = EMD(group, global) = (1/(m−1))·Σ_j |CumF_g(j) − CumF(j)|,
  *    computed here as an EXACT scaled rational:
  *    t_ppm = 10⁶·Σ_{j<m−1} |cum_g(j)·N − C(j)·n_g| div ((m−1)·n_g·N).
  *  - q319 generalization ladder: the REMEDY audit — re-bucket the
  *    quasi-identifier at coarser widths and report how much
  *    re-identifiable mass each generalization step removes (the table
  *    a Mondrian/Incognito-style anonymizer reads to pick its cut).
  *
  * Determinism: everything is integer counting and integer division
  * (Spark `div` == DuckDB `//`), cross-multiplied fractions — no
  * floats anywhere; the sensitive ordinal is `n_chars % 10` (a pure
  * function of the data both engines compute identically).
  *
  * Scale shapes: q317/q319 are one-scan groupBy chains (map-side
  * combined); q318's windows partition by QI GROUP (bounded ≤ m rows
  * per partition — never a global window), the category grid is a
  * broadcast of |QI groups| × m, and the global distribution is a
  * ≤ m-row frame joined back by category. The corpus-total scalar
  * rides the established 1-row-broadcast pattern.
  *
  * Scale bound (documented, q181-class): q318's cross-multiplied term
  * Σ_j |cum·N − C·n_g| ≤ 2(m−1)·N², and the final ppm scaling puts
  * ~18·10⁶·N² through BIGINT — exact to N ≈ 7·10⁵ docs per... full
  * corpus (sf1x = 5·10⁵ is inside; sf10 would need the ChiSq2x2
  * BigInteger spelling). The bound is a corpus-size ceiling, not a
  * group-size one.
  */
object ExtensionQueries75 extends QueryGroup {

  // --------------------------------------------------------------- q317

  /** q317: l-diversity histogram — QI = (lang, 100-char bucket), the
    * q313 quasi-identifier minus `source`, which becomes the SENSITIVE
    * attribute: per QI group, l = distinct sources; report the group/doc
    * mass at each l. Groups at l=1 are the disclosure set: membership
    * alone reveals the member's source.
    */
  def q317_l_diversity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"), expr("n_chars div 100").as("chars_bucket"))
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col("source")).as("l_div"))
      .groupBy(col("l_div"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("group_size")).as("n_docs"),
        min(col("group_size")).as("min_group_size"))
      .orderBy(col("l_div"))

  val q317Sql: String =
    """WITH g AS (
      |  SELECT lang, n_chars // 100 AS b, count(*) AS group_size,
      |    count(DISTINCT source) AS l_div
      |  FROM documents GROUP BY 1, 2)
      |SELECT l_div, count(*) AS n_groups,
      |  CAST(sum(group_size) AS BIGINT) AS n_docs,
      |  CAST(min(group_size) AS BIGINT) AS min_group_size
      |FROM g GROUP BY 1 ORDER BY l_div""".stripMargin

  // --------------------------------------------------------------- q318

  /** q318: exact t-closeness per QI group (lang, source) over the
    * ordered sensitive decile `n_chars % 10`, m = 10 categories. The
    * dense (group × category) grid left-joins the observed cells so
    * missing categories still contribute their |cum gap| terms; the
    * global cumulative is derived FROM the per-group cumulatives (a
    * ≤ m-row aggregate), so there is exactly one pass over the data.
    */
  def q318_t_closeness(s: SparkSession, dir: String): DataFrame = {
    val m = 10
    val d = Tables.documents(s, dir)
      .select(col("lang"), col("source"), expr(s"n_chars % $m").as("sc"))
    val cells = d.groupBy(col("lang"), col("source"), col("sc"))
      .agg(count(lit(1)).as("c"))
    val groups = cells.groupBy(col("lang"), col("source"))
      .agg(sum(col("c")).as("ng"))
    val grid = groups.join(
      broadcast(s.range(0, m).select(col("id").as("sc"))))
    val dense = grid.join(cells, Seq("lang", "source", "sc"), "left")
      .na.fill(0L, Seq("c"))
    // per-group cumulative: partitions = QI groups, ≤ m rows each
    val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("sc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dense.withColumn("cumc", sum(col("c")).over(w))
    // global cumulative per category = sum of group cumulatives (≤ m rows)
    val glob = cum.groupBy(col("sc")).agg(sum(col("cumc")).as("gcum"))
    val total = groups.agg(sum(col("ng")).as("n_total")) // 1-row broadcast
    cum.join(broadcast(glob), Seq("sc"))
      .crossJoin(broadcast(total))
      .filter(col("sc") < m - 1) // the m-th cum is always equal (== n)
      .groupBy(col("lang"), col("source"), col("ng"), col("n_total"))
      .agg(sum(abs(col("cumc") * col("n_total") - col("gcum") * col("ng")))
        .as("gap"))
      .select(col("lang"), col("source"), col("ng").as("n_docs"),
        expr(s"gap * 1000000L div ((${m - 1}) * ng * n_total)").as("t_ppm"))
      .orderBy(col("lang"), col("source"))
  }

  val q318Sql: String =
    """WITH d AS (
      |  SELECT lang, source, n_chars % 10 AS sc FROM documents
      |), cells AS (
      |  SELECT lang, source, sc, count(*) AS c FROM d GROUP BY 1, 2, 3
      |), groups AS (
      |  SELECT lang, source, CAST(sum(c) AS BIGINT) AS ng FROM cells GROUP BY 1, 2
      |), grid AS (
      |  SELECT g.lang, g.source, g.ng, cat.sc
      |  FROM groups g CROSS JOIN (SELECT unnest(range(0, 10)) AS sc) cat
      |), dense AS (
      |  SELECT grid.lang, grid.source, grid.ng, grid.sc,
      |    coalesce(cells.c, 0) AS c
      |  FROM grid LEFT JOIN cells
      |    ON grid.lang = cells.lang AND grid.source = cells.source
      |    AND grid.sc = cells.sc
      |), cum AS (
      |  SELECT lang, source, ng, sc,
      |    CAST(sum(c) OVER (PARTITION BY lang, source ORDER BY sc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc
      |  FROM dense
      |), gtab AS (
      |  SELECT sc, CAST(sum(cumc) AS BIGINT) AS gcum FROM cum GROUP BY sc
      |), t AS (SELECT CAST(sum(ng) AS BIGINT) AS n_total FROM groups)
      |SELECT cum.lang, cum.source, ng AS n_docs,
      |  CAST(sum(abs(cumc * n_total - gcum * ng)) * 1000000
      |    // (9 * ng * n_total) AS BIGINT) AS t_ppm
      |FROM cum JOIN gtab USING (sc) CROSS JOIN t
      |WHERE sc < 9
      |GROUP BY cum.lang, cum.source, ng, n_total
      |ORDER BY cum.lang, cum.source""".stripMargin

  // --------------------------------------------------------------- q319

  /** q319: k-anonymity generalization ladder — the chars-bucket
    * quasi-identifier re-cut at widths 100/500/1000/suppressed (w=0),
    * one scan via a 4-way level explode (the q135 stack shape), with
    * the re-identifiable mass (groups of size < 5 and their docs) per
    * level. The monotone decrease down the ladder is the decision
    * table for how much generalization the release needs.
    */
  def q319_generalization_ladder(s: SparkSession, dir: String): DataFrame = {
    val lvls = explode(array(
      struct(lit(100L).as("w"), expr("n_chars div 100").as("b")),
      struct(lit(500L).as("w"), expr("n_chars div 500").as("b")),
      struct(lit(1000L).as("w"), expr("n_chars div 1000").as("b")),
      struct(lit(0L).as("w"), lit(-1L).as("b"))))
    Tables.documents(s, dir)
      .select(col("lang"), col("source"), lvls.as("lv"))
      .select(col("lang"), col("source"), col("lv.w").as("w"), col("lv.b").as("b"))
      .groupBy(col("w"), col("lang"), col("source"), col("b"))
      .agg(count(lit(1)).as("gs"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("gs") < 5, 1L).otherwise(0L)).as("n_small_groups"),
        sum(when(col("gs") < 5, col("gs")).otherwise(0L)).as("n_docs_at_risk"))
      .orderBy(col("w"))
  }

  val q319Sql: String =
    """WITH stacked AS (
      |  SELECT 100 AS w, lang, source, n_chars // 100 AS b FROM documents
      |  UNION ALL
      |  SELECT 500, lang, source, n_chars // 500 FROM documents
      |  UNION ALL
      |  SELECT 1000, lang, source, n_chars // 1000 FROM documents
      |  UNION ALL
      |  SELECT 0, lang, source, -1 FROM documents
      |), g AS (
      |  SELECT w, lang, source, b, count(*) AS gs
      |  FROM stacked GROUP BY 1, 2, 3, 4)
      |SELECT CAST(w AS BIGINT) AS w, count(*) AS n_groups,
      |  CAST(sum(CASE WHEN gs < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_small_groups,
      |  CAST(sum(CASE WHEN gs < 5 THEN gs ELSE 0 END) AS BIGINT)
      |    AS n_docs_at_risk
      |FROM g GROUP BY w ORDER BY w""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q317_l_diversity", q317_l_diversity _, q317Sql),
    Query("q318_t_closeness", q318_t_closeness _, q318Sql),
    Query("q319_generalization_ladder", q319_generalization_ladder _, q319Sql)
  )
}
