package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan
import QueryBlocks.spendByTreat

/** Stylometry, sequence randomness, and rater
  * concordance.
  *
  *  - q432 Burrows' delta (MAD-robust variant) — the stylometric
  *    distance between sources: top-30 corpus tokens, per-source
  *    relative frequencies, robust z-scores against the cross-source
  *    median/MAD (Hoover's recommended robustification — classical
  *    delta's mean/σ needs FP), then Δ(a,b) = mean |z_a − z_b|. The
  *    "which sources write alike" readout a contamination review
  *    reads next to q373's coverage.
  *  - q433 Wald–Wolfowitz two-sample runs test — are BUILDING and
  *    non-BUILDING spends INTERLEAVED like one population? Labels in
  *    spend order (custkey-pinned total order), runs counted by an
  *    i→i+1 equi-join, z² exact via D = R·N − 2mn − N. Completes the
  *    randomness tier (q391 is the one-sample form).
  *  - q434 Kendall's W — concordance of the five segments ranking the
  *    span years by revenue (q417's grid): W = 12S/(b²(k³−k)) with
  *    S×4 kept integral via the doubled-deviation trick. The
  *    inter-rater closer for RANKINGS (q230/q320/q367 cover labels).
  */
object ExtensionQueries116 extends QueryGroup {

  // -------------------------------------------------------------- q432

  /** q432: all source pairs with delta_milli = Σ|z_a − z_b| div K over
    * the K=30 top tokens; z_milli = (freq_ppm − median)·1000 div MAD
    * (0 when MAD = 0 — a token equally frequent everywhere carries no
    * stylometric signal). Scale shape: token rollup + a 30-row
    * broadcast grid; the 20×20 source-pair frame is category-bounded.
    */
  def q432_burrows_delta(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(30)
      .select(col("tok"))
    val perSource = toks.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val cells = perSource.crossJoin(broadcast(top))
      .join(toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c")),
        Seq("source", "tok"), "left")
      .select(col("source"), col("tok"),
        expr("coalesce(c, 0) * 1000000 div n_s").as("f"))
    val med = cells.groupBy(col("tok"))
      .agg(expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY f) AS BIGINT)").as("med"))
    val mad = cells.join(broadcast(med), "tok")
      .groupBy(col("tok"))
      .agg(expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(f - med)) AS BIGINT)")
        .as("mad"))
    val z = cells.join(broadcast(med), "tok").join(broadcast(mad), "tok")
      .select(col("source"), col("tok"),
        expr("CASE WHEN mad = 0 THEN 0 ELSE (f - med) * 1000 div mad END").as("z"))
    z.as("a").join(z.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("k_tokens"),
        sum(abs(col("a.z") - col("b.z"))).as("zsum"))
      .select(col("src_a"), col("src_b"),
        expr("zsum div k_tokens").as("delta_milli"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q432Sql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
      |), top AS (
      |  SELECT tok FROM (SELECT tok, count(*) AS n FROM toks GROUP BY tok)
      |  ORDER BY n DESC, tok LIMIT 30
      |), per_source AS (
      |  SELECT source, count(*) AS n_s FROM toks GROUP BY source
      |), cnt AS (
      |  SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok
      |), cells AS (
      |  SELECT p.source, t.tok,
      |    CAST(coalesce(cnt.c, 0) AS BIGINT) * 1000000 // p.n_s AS f
      |  FROM per_source p CROSS JOIN top t
      |  LEFT JOIN cnt ON cnt.source = p.source AND cnt.tok = t.tok
      |), med AS (
      |  SELECT tok, quantile_disc(f, 0.5) AS med FROM cells GROUP BY tok
      |), mad AS (
      |  SELECT c.tok, quantile_disc(abs(c.f - m.med), 0.5) AS mad
      |  FROM cells c JOIN med m USING (tok) GROUP BY c.tok
      |), z AS (
      |  SELECT c.source, c.tok,
      |    CASE WHEN d.mad = 0 THEN 0 ELSE (c.f - m.med) * 1000 // d.mad END AS z
      |  FROM cells c JOIN med m USING (tok) JOIN mad d ON d.tok = c.tok
      |)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  CAST(sum(abs(a.z - b.z)) AS BIGINT) // count(*) AS delta_milli
      |FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
      |GROUP BY a.source, b.source
      |ORDER BY src_a, src_b""".stripMargin

  // -------------------------------------------------------------- q433

  /** q433: runs R of the BUILDING/rest label sequence in spend order;
    * z²_milli = D²·(N−1)·1000 div (2mn·(2mn−N)) with
    * D = R·N − 2mn − N (so R − E[R] = D/N exactly). The total order
    * pins cross-group ties by custkey (documented convention).
    */
  def q433_two_sample_runs(s: SparkSession, dir: String): DataFrame = {
    val sp = spendByTreat(s, dir)
      .select(col("o_custkey"), col("v"), col("treat"))
    val ranked = PrefixScan.prefixSumsInclusive(sp, 16,
      Seq(col("v"), col("o_custkey")), Seq((lit(1L), "i")))
    val x = ranked.select(col("i"), col("treat"))
    val y = ranked.select((col("i") - 1).as("i"), col("treat").as("treat_next"))
    val changes = x.join(y, "i")
      .agg(sum(when(col("treat") =!= col("treat_next"), 1L).otherwise(0L)).as("chg"))
    val tot = sp.agg(sum(when(col("treat"), 1L).otherwise(0L)).as("m"),
      sum(when(!col("treat"), 1L).otherwise(0L)).as("nn"))
    changes.crossJoin(broadcast(tot))
      .select((col("chg") + 1L).as("runs"), col("m"), col("nn"),
        (col("m") + col("nn")).as("n_all"))
      .select(col("runs"), col("m").as("n_building"), col("nn").as("n_rest"),
        expr("CAST(CAST(runs * n_all - 2 * m * nn - n_all AS DECIMAL(38,0)) * " +
          "(runs * n_all - 2 * m * nn - n_all) * (n_all - 1) * 1000 div " +
          "(CAST(2 AS DECIMAL(38,0)) * m * nn * (2 * m * nn - n_all)) AS BIGINT)")
          .as("z2_milli"))
  }

  val q433Sql: String =
    """WITH sp AS (
      |  SELECT o.o_custkey, (c.c_mktsegment = 'BUILDING') AS treat,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY o.o_custkey, c.c_mktsegment
      |), r AS (
      |  SELECT treat, row_number() OVER (ORDER BY v, o_custkey) AS i FROM sp
      |), chg AS (
      |  SELECT CAST(sum(CASE WHEN x.treat <> y.treat THEN 1 ELSE 0 END) AS BIGINT)
      |    AS chg
      |  FROM r x JOIN r y ON y.i = x.i + 1
      |), tot AS (
      |  SELECT CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS m,
      |    CAST(sum(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS nn
      |  FROM sp
      |)
      |SELECT chg + 1 AS runs, m AS n_building, nn AS n_rest,
      |  CAST(CAST((chg + 1) * (m + nn) - 2 * m * nn - (m + nn) AS HUGEINT) *
      |    ((chg + 1) * (m + nn) - 2 * m * nn - (m + nn)) * (m + nn - 1) * 1000 //
      |    (CAST(2 AS HUGEINT) * m * nn * (2 * m * nn - (m + nn))) AS BIGINT)
      |    AS z2_milli
      |FROM chg, tot""".stripMargin

  // -------------------------------------------------------------- q434

  /** q434: Kendall's W over the q417 grid (segments rank years by
    * revenue; zero-filled cells, year-tiebroken row_number — a
    * permutation per block). With R_j = Σ_b rank_bj and
    * S4 = Σ_j (2R_j − b(k+1))², W_ppm = 3·S4·10⁶ div (b²·(k³−k)).
    */
  def q434_kendall_w(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("day"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val d0 = o.agg(min(col("day")).as("d0"))
    val cells = o.crossJoin(broadcast(d0))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"), expr("(day - d0) div 365").as("year"))
      .agg(sum(col("cents")).as("rev"))
    val grid = cells.select(col("seg")).distinct()
      .crossJoin(broadcast(cells.select(col("year")).distinct()))
      .join(cells, Seq("seg", "year"), "left")
      .select(col("seg"), col("year"), coalesce(col("rev"), lit(0L)).as("rev"))
    import org.apache.spark.sql.expressions.Window
    val ranked = grid.withColumn("rk",
      row_number().over(Window.partitionBy(col("seg"))
        .orderBy(col("rev"), col("year"))).cast("long"))
    val rj = ranked.groupBy(col("year")).agg(sum(col("rk")).as("r_j"))
    val bk = ranked.agg(countDistinct(col("seg")).as("b"),
      countDistinct(col("year")).as("k"))
    rj.crossJoin(broadcast(bk))
      .select(expr("(2 * r_j - b * (k + 1)) * (2 * r_j - b * (k + 1))").as("d2"),
        col("b"), col("k"))
      .groupBy(col("b"), col("k")).agg(sum(col("d2")).as("s4"))
      .select(col("b").as("b_raters"), col("k").as("k_items"), col("s4"),
        expr("3 * s4 * 1000000 div (b * b * (k * k * k - k))").as("w_ppm"))
  }

  val q434Sql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), d0 AS (SELECT min(day) AS d0 FROM o),
      |cells AS (
      |  SELECT c.c_mktsegment AS seg, (o.day - d0.d0) // 365 AS year,
      |    CAST(sum(o.cents) AS BIGINT) AS rev
      |  FROM o JOIN customer c ON o.o_custkey = c.c_custkey CROSS JOIN d0
      |  GROUP BY 1, 2
      |), grid AS (
      |  SELECT s.seg, y.year, coalesce(c.rev, 0) AS rev
      |  FROM (SELECT DISTINCT seg FROM cells) s
      |  CROSS JOIN (SELECT DISTINCT year FROM cells) y
      |  LEFT JOIN cells c ON c.seg = s.seg AND c.year = y.year
      |), ranked AS (
      |  SELECT seg, year,
      |    CAST(row_number() OVER (PARTITION BY seg ORDER BY rev, year) AS BIGINT) AS rk
      |  FROM grid
      |), rj AS (
      |  SELECT year, CAST(sum(rk) AS BIGINT) AS r_j FROM ranked GROUP BY year
      |), bk AS (
      |  SELECT count(DISTINCT seg) AS b, count(DISTINCT year) AS k FROM ranked
      |)
      |SELECT bk.b AS b_raters, bk.k AS k_items,
      |  CAST(sum((2 * rj.r_j - bk.b * (bk.k + 1)) *
      |           (2 * rj.r_j - bk.b * (bk.k + 1))) AS BIGINT) AS s4,
      |  CAST(3 * sum((2 * rj.r_j - bk.b * (bk.k + 1)) *
      |               (2 * rj.r_j - bk.b * (bk.k + 1))) * 1000000
      |    // (bk.b * bk.b * (bk.k * bk.k * bk.k - bk.k)) AS BIGINT) AS w_ppm
      |FROM rj, bk
      |GROUP BY bk.b, bk.k""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q432_burrows_delta", q432_burrows_delta _, q432Sql),
    Query("q433_two_sample_runs", q433_two_sample_runs _, q433Sql),
    Query("q434_kendall_w", q434_kendall_w _, q434Sql)
  )
}
