package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import QueryBlocks.spendBySegment

/** Categorical association and a classical trend
  * closer — the contingency-table tier (independence, location shift on
  * categories, ordinal association) the inference family lacked.
  *
  *  - q436 chi-square independence + Cramér's V² — is market segment
  *    independent of order priority? Exact integer form of the classic
  *    χ² = Σ (O−E)²/E via (O·N − R·C)² div (N·R·C) per cell (truncated
  *    per-cell milli contributions, a stated convention), zero cells
  *    included through the full segment×priority grid. V² = χ²/(N·
  *    min(r−1, c−1)) in ppm — the [0,1] effect size the raw statistic
  *    isn't.
  *  - q437 Mood's median test — do the five segments share a spend
  *    median? Counts above/not-above the POOLED per-customer median
  *    feed the same exact χ² cell form on the 2×k table. The
  *    k-sample location test that needs no ranks (Kruskal–Wallis
  *    q407 is its rank-power sibling).
  *  - q438 Goodman–Kruskal γ + Somers' d — ordinal association between
  *    order priority (1–5, the digit is the scale) and order width
  *    (lineitem count, 1–7): concordant/discordant pair masses off the
  *    5×7 count matrix (a 35-row broadcast self-join, never row pairs),
  *    γ = (C−D)/(C+D) and the asymmetric d_{Y|X} = (C−D)/(C+D+T_Y)
  *    (T_Y = pairs tied on width but split on priority), both exact ppm.
  *  - q439 Cox–Stuart trend test — the sign-test-on-halves trend probe
  *    over the 30-day event series: day i pairs with day i+15, S = #up
  *    among non-ties, exact binomial two-sided tail in ppm via q408's
  *    overflow-free C(n,k) fold. Mann–Kendall (q386) is the τ-based
  *    sibling; Cox–Stuart is the textbook quick test an analyst expects.
  *
  * Scale shapes: q436-q438 are one fact-table rollup each (+ grid/cell
  * frames bounded by category counts: 25, 10, 35 cells); q439 is a
  * 30-row daily rollup + a ≤16-term driver-free tail fold. All exact
  * integer arithmetic; DECIMAL(38,0)/HUGEINT guards on every squared
  * product (documented sf1-safe).
  */
object ExtensionQueries118 extends QueryGroup {

  // -------------------------------------------------------------- q436

  /** q436: χ² (milli) and Cramér's V² (ppm) for segment × priority at
    * order grain. Per-cell contribution (O·N − R·C)²·1000 div (N·R·C)
    * — integer-truncated per cell on BOTH engines, summed; E = R·C/N
    * never materialized as a fraction. Zero cells contribute
    * R·C·1000 div N through the same formula (grid built explicitly).
    */
  def q436_chi_square_independence(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("seg"), col("o_orderpriority").as("prio"))
    val cells = o.groupBy(col("seg"), col("prio")).agg(count(lit(1)).as("o_c"))
    val grid = cells.select(col("seg")).distinct()
      .crossJoin(broadcast(cells.select(col("prio")).distinct()))
      .join(cells, Seq("seg", "prio"), "left")
      .select(col("seg"), col("prio"), coalesce(col("o_c"), lit(0L)).as("o_c"))
    val rowT = grid.groupBy(col("seg")).agg(sum(col("o_c")).as("r_t"))
    val colT = grid.groupBy(col("prio")).agg(sum(col("o_c")).as("c_t"))
    val nT = grid.agg(sum(col("o_c")).as("n"),
      countDistinct(col("seg")).as("r"), countDistinct(col("prio")).as("c"))
    grid.join(broadcast(rowT), "seg").join(broadcast(colT), "prio")
      .crossJoin(broadcast(nT))
      .select(col("n"), col("r"), col("c"),
        expr("CAST(o_c AS DECIMAL(38,0)) * n - CAST(r_t AS DECIMAL(38,0)) * c_t")
          .as("dev"),
        expr("CAST(n AS DECIMAL(38,0)) * r_t * c_t").as("den"))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(sum(expr("dev * dev * 1000 div den")).as("chi2_raw"))
      .select(col("n").as("n_orders"), col("r").as("n_segments"),
        col("c").as("n_priorities"),
        expr("CAST(chi2_raw AS BIGINT)").as("chi2_milli"),
        expr("CAST(chi2_raw * 1000 div (CAST(n AS DECIMAL(38,0)) * " +
          "least(r - 1, c - 1)) AS BIGINT)").as("cramer_v2_ppm"))
  }

  val q436Sql: String =
    """WITH o AS (
      |  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |), cells AS (
      |  SELECT seg, prio, count(*) AS o_c FROM o GROUP BY seg, prio
      |), grid AS (
      |  SELECT s.seg, p.prio, coalesce(c.o_c, 0) AS o_c
      |  FROM (SELECT DISTINCT seg FROM cells) s
      |  CROSS JOIN (SELECT DISTINCT prio FROM cells) p
      |  LEFT JOIN cells c ON c.seg = s.seg AND c.prio = p.prio
      |), rt AS (SELECT seg, CAST(sum(o_c) AS BIGINT) AS r_t FROM grid GROUP BY seg),
      |ct AS (SELECT prio, CAST(sum(o_c) AS BIGINT) AS c_t FROM grid GROUP BY prio),
      |nt AS (
      |  SELECT CAST(sum(o_c) AS BIGINT) AS n, count(DISTINCT seg) AS r,
      |    count(DISTINCT prio) AS c
      |  FROM grid
      |), terms AS (
      |  SELECT nt.n, nt.r, nt.c,
      |    (CAST(g.o_c AS HUGEINT) * nt.n - CAST(rt.r_t AS HUGEINT) * ct.c_t)
      |      AS dev,
      |    CAST(nt.n AS HUGEINT) * rt.r_t * ct.c_t AS den
      |  FROM grid g JOIN rt ON rt.seg = g.seg JOIN ct ON ct.prio = g.prio
      |  CROSS JOIN nt
      |)
      |SELECT n AS n_orders, r AS n_segments, c AS n_priorities,
      |  CAST(sum(dev * dev * 1000 // den) AS BIGINT) AS chi2_milli,
      |  CAST(sum(dev * dev * 1000 // den) * 1000
      |    // (CAST(n AS HUGEINT) * least(r - 1, c - 1)) AS BIGINT)
      |    AS cramer_v2_ppm
      |FROM terms GROUP BY n, r, c""".stripMargin

  // -------------------------------------------------------------- q437

  /** q437: Mood's median test on per-customer spend across segments.
    * Pooled median via exact percentile_disc (CAST BIGINT — Spark
    * returns DOUBLE, the value is a data point); the 2×k table
    * (above / not-above per segment) runs the q436 cell form. One
    * row: k, N, the median, χ²_milli.
    */
  def q437_mood_median_test(s: SparkSession, dir: String): DataFrame = {
    val sp = spendBySegment(s, dir)
      .select(col("seg"), col("v"))
    val med = sp.agg(
      expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("med"))
    val cells = sp.crossJoin(broadcast(med))
      .groupBy(col("seg"), (col("v") > col("med")).as("above"))
      .agg(count(lit(1)).as("o_c"))
    // both rows of the 2-level factor exist per segment unless a segment
    // is entirely one-sided — grid-complete like q436 for exactness
    val grid = cells.select(col("seg")).distinct()
      .crossJoin(broadcast(cells.select(col("above")).distinct()))
      .join(cells, Seq("seg", "above"), "left")
      .select(col("seg"), col("above"), coalesce(col("o_c"), lit(0L)).as("o_c"))
    val rowT = grid.groupBy(col("seg")).agg(sum(col("o_c")).as("r_t"))
    val colT = grid.groupBy(col("above")).agg(sum(col("o_c")).as("c_t"))
    val nT = grid.agg(sum(col("o_c")).as("n"), countDistinct(col("seg")).as("k"))
    grid.join(broadcast(rowT), "seg").join(broadcast(colT), "above")
      .crossJoin(broadcast(nT)).crossJoin(broadcast(med))
      .select(col("n"), col("k"), col("med"),
        expr("CAST(o_c AS DECIMAL(38,0)) * n - CAST(r_t AS DECIMAL(38,0)) * c_t")
          .as("dev"),
        expr("CAST(n AS DECIMAL(38,0)) * r_t * c_t").as("den"))
      .groupBy(col("n"), col("k"), col("med"))
      .agg(sum(expr("dev * dev * 1000 div den")).as("chi2_raw"))
      .select(col("k").as("n_segments"), col("n").as("n_customers"),
        col("med").as("median_spend"),
        expr("CAST(chi2_raw AS BIGINT)").as("chi2_milli"))
  }

  val q437Sql: String =
    """WITH sp AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY o.o_custkey, c.c_mktsegment
      |), med AS (SELECT quantile_disc(v, 0.5) AS med FROM sp),
      |cells AS (
      |  SELECT seg, (v > med.med) AS above, count(*) AS o_c
      |  FROM sp, med GROUP BY seg, (v > med.med)
      |), grid AS (
      |  SELECT s.seg, a.above, coalesce(c.o_c, 0) AS o_c
      |  FROM (SELECT DISTINCT seg FROM cells) s
      |  CROSS JOIN (SELECT DISTINCT above FROM cells) a
      |  LEFT JOIN cells c ON c.seg = s.seg AND c.above = a.above
      |), rt AS (SELECT seg, CAST(sum(o_c) AS BIGINT) AS r_t FROM grid GROUP BY seg),
      |ct AS (SELECT above, CAST(sum(o_c) AS BIGINT) AS c_t FROM grid GROUP BY above),
      |nt AS (
      |  SELECT CAST(sum(o_c) AS BIGINT) AS n, count(DISTINCT seg) AS k FROM grid
      |), terms AS (
      |  SELECT nt.n, nt.k, med.med,
      |    (CAST(g.o_c AS HUGEINT) * nt.n - CAST(rt.r_t AS HUGEINT) * ct.c_t)
      |      AS dev,
      |    CAST(nt.n AS HUGEINT) * rt.r_t * ct.c_t AS den
      |  FROM grid g JOIN rt ON rt.seg = g.seg JOIN ct ON ct.above = g.above
      |  CROSS JOIN nt CROSS JOIN med
      |)
      |SELECT k AS n_segments, n AS n_customers, med AS median_spend,
      |  CAST(sum(dev * dev * 1000 // den) AS BIGINT) AS chi2_milli
      |FROM terms GROUP BY k, n, med""".stripMargin

  // -------------------------------------------------------------- q438

  /** q438: γ and Somers' d_{width|priority} off the 5×7 count matrix.
    * C (concordant mass) = Σ n_ij · Σ_{i'>i, j'>j} n_i'j'; D mirrors
    * with j'<j; T_Y (tied on width, split on priority) =
    * Σ_j (C_j² − Σ_i n_ij²) / 2 — all off one rollup + a 35-row
    * broadcast self-join. γ_ppm = (C−D)·10⁶ div (C+D);
    * somers_d_ppm = (C−D)·10⁶ div (C+D+T_Y).
    */
  def q438_ordinal_association(s: SparkSession, dir: String): DataFrame = {
    val w = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("width"))
    val m = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("x"))
      .join(w, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("x"), col("width").as("y")).agg(count(lit(1)).as("n_c"))
    val conc = m.as("a").join(broadcast(m.as("b")),
        col("b.x") > col("a.x") && col("b.y") > col("a.y"))
      .agg(coalesce(sum(expr("CAST(a.n_c AS DECIMAL(38,0)) * b.n_c")),
        lit(0L).cast("decimal(38,0)")).as("c_mass"))
    val disc = m.as("a").join(broadcast(m.as("b")),
        col("b.x") > col("a.x") && col("b.y") < col("a.y"))
      .agg(coalesce(sum(expr("CAST(a.n_c AS DECIMAL(38,0)) * b.n_c")),
        lit(0L).cast("decimal(38,0)")).as("d_mass"))
    val ty = m.groupBy(col("y"))
      .agg(sum(col("n_c")).as("c_j"), sum(expr("n_c * n_c")).as("sq"))
      .agg(sum(expr("(CAST(c_j AS DECIMAL(38,0)) * c_j - sq) div 2")).as("t_y"))
    conc.crossJoin(broadcast(disc)).crossJoin(broadcast(ty))
      .select(expr("CAST(c_mass AS BIGINT)").as("n_concordant"),
        expr("CAST(d_mass AS BIGINT)").as("n_discordant"),
        expr("CAST(t_y AS BIGINT)").as("n_tied_y_only"),
        expr("CAST((c_mass - d_mass) * 1000000 div (c_mass + d_mass) AS BIGINT)")
          .as("gamma_ppm"),
        expr("CAST((c_mass - d_mass) * 1000000 div (c_mass + d_mass + t_y) AS BIGINT)")
          .as("somers_d_ppm"))
  }

  val q438Sql: String =
    """WITH w AS (
      |  SELECT l_orderkey, count(*) AS width FROM lineitem GROUP BY l_orderkey
      |), m AS (
      |  SELECT CAST(o.o_orderpriority[1] AS BIGINT) AS x, w.width AS y,
      |    count(*) AS n_c
      |  FROM orders o JOIN w ON o.o_orderkey = w.l_orderkey
      |  GROUP BY 1, 2
      |), conc AS (
      |  SELECT coalesce(CAST(sum(CAST(a.n_c AS HUGEINT) * b.n_c) AS HUGEINT),
      |    CAST(0 AS HUGEINT)) AS c_mass
      |  FROM m a JOIN m b ON b.x > a.x AND b.y > a.y
      |), disc AS (
      |  SELECT coalesce(CAST(sum(CAST(a.n_c AS HUGEINT) * b.n_c) AS HUGEINT),
      |    CAST(0 AS HUGEINT)) AS d_mass
      |  FROM m a JOIN m b ON b.x > a.x AND b.y < a.y
      |), ty AS (
      |  SELECT CAST(sum((CAST(c_j AS HUGEINT) * c_j - sq) // 2) AS HUGEINT) AS t_y
      |  FROM (SELECT y, CAST(sum(n_c) AS BIGINT) AS c_j,
      |          CAST(sum(n_c * n_c) AS BIGINT) AS sq
      |        FROM m GROUP BY y)
      |)
      |SELECT CAST(c_mass AS BIGINT) AS n_concordant,
      |  CAST(d_mass AS BIGINT) AS n_discordant,
      |  CAST(t_y AS BIGINT) AS n_tied_y_only,
      |  CAST((c_mass - d_mass) * 1000000 // (c_mass + d_mass) AS BIGINT)
      |    AS gamma_ppm,
      |  CAST((c_mass - d_mass) * 1000000 // (c_mass + d_mass + t_y) AS BIGINT)
      |    AS somers_d_ppm
      |FROM conc, disc, ty""".stripMargin

  // -------------------------------------------------------------- q439

  /** q439: Cox–Stuart on daily event counts — day i (0-based, relative
    * to the first day) vs day i + h where h = ceil(days/2); ties drop;
    * S = #up; two-sided exact binomial tail via q408's overflow-free
    * prefix-product C(n,k). The 30-day window gives n ≤ 15 pairs —
    * the tail fold is a constant-size expression, never a driver loop.
    */
  def q439_cox_stuart_trend(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(expr("ts div 1000 div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_ev"))
    val d0 = daily.agg(min(col("day")).as("d0"), count(lit(1)).as("n_days"))
    val rel = daily.crossJoin(broadcast(d0))
      .select((col("day") - col("d0")).as("i"), col("n_ev"),
        expr("(n_days + 1) div 2").as("h"))
    val pairs = rel.as("a").join(broadcast(rel.as("b")),
        col("b.i") === col("a.i") + col("a.h"))
      .select(col("a.n_ev").as("x"), col("b.n_ev").as("y"))
      .filter(col("x") =!= col("y"))
    pairs.agg(count(lit(1)).as("n"),
        sum(when(col("y") > col("x"), 1L).otherwise(0L)).as("s"))
      .select(col("n"), col("s"), explode(sequence(lit(0L),
        least(col("s"), col("n") - col("s")))).as("k"))
      .select(col("n"), col("s"),
        when(col("k") === 0, lit(1L)).otherwise(
          expr("aggregate(sequence(1L, k), CAST(1 AS BIGINT), " +
            "(acc, i) -> acc * (n - i + 1) div i)")).as("binom"))
      .groupBy(col("n"), col("s"))
      .agg(sum(col("binom")).as("tail_sum"))
      .select(col("n").as("n_pairs"), col("s").as("n_up"), col("tail_sum"),
        least(expr("2 * tail_sum * 1000000 div shiftleft(CAST(1 AS BIGINT), CAST(n AS INT))"),
          lit(1000000L)).as("p_ppm"))
  }

  val q439Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n_ev
      |  FROM events GROUP BY 1
      |), d0 AS (SELECT min(day) AS d0, count(*) AS n_days FROM daily),
      |rel AS (
      |  SELECT day - d0.d0 AS i, n_ev, (d0.n_days + 1) // 2 AS h
      |  FROM daily, d0
      |), pairs AS (
      |  SELECT a.n_ev AS x, b.n_ev AS y
      |  FROM rel a JOIN rel b ON b.i = a.i + a.h
      |  WHERE a.n_ev <> b.n_ev
      |), agg AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN y > x THEN 1 ELSE 0 END) AS BIGINT) AS s
      |  FROM pairs
      |), ks AS (
      |  SELECT n, s, unnest(range(0, least(s, n - s) + 1)) AS k FROM agg
      |), binoms AS (
      |  SELECT n, s,
      |    CASE WHEN k = 0 THEN CAST(1 AS BIGINT)
      |      ELSE list_reduce(list_prepend(CAST(1 AS BIGINT), range(1, k + 1)),
      |        (acc, i) -> acc * (n - i + 1) // i) END AS binom
      |  FROM ks
      |)
      |SELECT n AS n_pairs, s AS n_up, CAST(sum(binom) AS BIGINT) AS tail_sum,
      |  least(CAST(2 * sum(binom) * 1000000 // (CAST(1 AS BIGINT) << n)
      |    AS BIGINT), 1000000) AS p_ppm
      |FROM binoms GROUP BY n, s""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q436_chi_square_independence", q436_chi_square_independence _, q436Sql),
    Query("q437_mood_median_test", q437_mood_median_test _, q437Sql),
    Query("q438_ordinal_association", q438_ordinal_association _, q438Sql),
    Query("q439_cox_stuart_trend", q439_cox_stuart_trend _, q439Sql)
  )
}
