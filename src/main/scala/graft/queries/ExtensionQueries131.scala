package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import QueryBlocks.{daily, DailySql}

/** Residual diagnostics, the seasonal trend test,
  * agreement asymmetry, and a fully ENUMERATED exact inference.
  *
  *  - q484 Durbin–Watson on weekday-adjusted residuals: q440's lag-1
  *    ACF reads the RAW series (which is seasonal by construction);
  *    DW reads what's left AFTER q463's integer weekday means —
  *    the regression-diagnostic form, exact in milli.
  *  - q485 seasonal Mann–Kendall (Hirsch–Slack): q386's S computed
  *    WITHIN each weekday and summed, with the exact summed null
  *    variance (×18 integer form) — the trend test that ignores the
  *    weekly cycle instead of being fooled by it.
  *  - q486 Bowker symmetry test on q471's 5×5 rater contingency: is
  *    the disagreement DIRECTIONAL (χ² = Σ_{i<j}(n_ij − n_ji)² div
  *    (n_ij + n_ji), zero-sum cells dropped with df reported) — the
  *    k×k generalization of McNemar.
  *  - q487 exact permutation test: mean difference between even- and
  *    odd-ranked days of the first 12 days, p computed by FULL
  *    enumeration of all C(12,6) = 924 assignments (a 4096-mask
  *    bounded grid, popcount-filtered) — zero asymptotics, the
  *    ground-truth calibrator for the round's test tier.
  *
  * Scale shapes: everything is day-window-bounded after one events
  * rollup — consecutive-day equi-joins, ≤5×5×7 within-weekday
  * triangles, a 5×5 cell frame, and a 4096×12 mask grid.
  */
object ExtensionQueries131 extends QueryGroup {

  // -------------------------------------------------------------- q484

  /** q484: e_t = n_ev − weekday mean (q463's convention); DW_milli =
    * Σ_{consecutive}(e_t − e_{t−1})²·1000 div Σe_t² (all days in the
    * denominator, stated). DW ≈ 2000 milli = no residual serial
    * correlation.
    */
  def q484_durbin_watson(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir).withColumn("dow", expr("(day + 4) % 7"))
    val dm = d.groupBy(col("dow")).agg(expr("sum(n_ev) div count(1)").as("m"))
    val resid = d.join(broadcast(dm), Seq("dow"))
      .select(col("day"), (col("n_ev") - col("m")).as("e"))
    val diffs = resid.as("a").join(broadcast(resid.as("b")),
        col("b.day") === col("a.day") + 1)
      .agg(sum(expr("CAST(b.e - a.e AS DECIMAL(38,0)) * (b.e - a.e)")).as("num"))
    val den = resid.agg(count(lit(1)).as("n_days"),
      sum(expr("CAST(e AS DECIMAL(38,0)) * e")).as("sse"))
    den.crossJoin(broadcast(diffs))
      .select(col("n_days"),
        expr("CAST(sse AS BIGINT)").as("sse"),
        expr("CAST(num AS BIGINT)").as("diff_sq_sum"),
        expr("CAST(num * 1000 div sse AS BIGINT)").as("dw_milli"))
  }

  val q484Sql: String =
    s"""WITH daily AS ($DailySql),
       |d AS (SELECT day, (day + 4) % 7 AS dow, n_ev FROM daily),
       |dm AS (SELECT dow, CAST(sum(n_ev) AS BIGINT) // count(*) AS m FROM d GROUP BY dow),
       |resid AS (
       |  SELECT d.day, d.n_ev - dm.m AS e FROM d JOIN dm ON d.dow = dm.dow
       |), diffs AS (
       |  SELECT CAST(sum(CAST(b.e - a.e AS HUGEINT) * (b.e - a.e)) AS HUGEINT) AS num
       |  FROM resid a JOIN resid b ON b.day = a.day + 1
       |), den AS (
       |  SELECT count(*) AS n_days,
       |    CAST(sum(CAST(e AS HUGEINT) * e) AS HUGEINT) AS sse
       |  FROM resid
       |)
       |SELECT den.n_days, CAST(den.sse AS BIGINT) AS sse,
       |  CAST(diffs.num AS BIGINT) AS diff_sq_sum,
       |  CAST(diffs.num * 1000 // den.sse AS BIGINT) AS dw_milli
       |FROM den, diffs""".stripMargin

  // -------------------------------------------------------------- q485

  /** q485: S_total = Σ_dow Σ_{i<j within dow, time order} sgn(x_j−x_i);
    * var×18 = Σ_dow n_d(n_d−1)(2n_d+5) (the exact null variance times
    * 18, kept integer — no ties correction needed when counts are
    * continuous-ish; ties contribute 0 to S and are ignored in the
    * variance, stated).
    */
  def q485_seasonal_mann_kendall(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir).withColumn("dow", expr("(day + 4) % 7"))
    val pairs = d.as("a").join(broadcast(d.as("b")),
        col("b.dow") === col("a.dow") && col("b.day") > col("a.day"))
      .agg(sum(when(col("b.n_ev") > col("a.n_ev"), 1L)
        .when(col("b.n_ev") < col("a.n_ev"), -1L).otherwise(0L)).as("s_total"))
    val vars = d.groupBy(col("dow")).agg(count(lit(1)).as("n_d"))
      .agg(count(lit(1)).as("n_seasons"), sum(col("n_d")).as("n_days"),
        sum(expr("n_d * (n_d - 1) * (2 * n_d + 5)")).as("var_x18"))
    vars.crossJoin(broadcast(pairs))
      .select(col("n_days"), col("n_seasons"), col("s_total"), col("var_x18"))
  }

  val q485Sql: String =
    s"""WITH daily AS ($DailySql),
       |d AS (SELECT day, (day + 4) % 7 AS dow, n_ev FROM daily),
       |pairs AS (
       |  SELECT CAST(sum(CASE WHEN b.n_ev > a.n_ev THEN 1
       |    WHEN b.n_ev < a.n_ev THEN -1 ELSE 0 END) AS BIGINT) AS s_total
       |  FROM d a JOIN d b ON b.dow = a.dow AND b.day > a.day
       |), vars AS (
       |  SELECT count(*) AS n_seasons, CAST(sum(n_d) AS BIGINT) AS n_days,
       |    CAST(sum(n_d * (n_d - 1) * (2 * n_d + 5)) AS BIGINT) AS var_x18
       |  FROM (SELECT dow, count(*) AS n_d FROM d GROUP BY dow)
       |)
       |SELECT vars.n_days, vars.n_seasons, pairs.s_total, vars.var_x18
       |FROM vars, pairs""".stripMargin

  // -------------------------------------------------------------- q486

  /** q486: over q471's 5×5 (length band × diversity band) table —
    * χ²_milli = Σ_{i<j, n_ij+n_ji>0} (n_ij − n_ji)²·1000 div
    * (n_ij + n_ji) (per-cell truncation, zero-sum pairs dropped),
    * df = number of contributing pairs.
    */
  def q486_bowker_symmetry(s: SparkSession, dir: String): DataFrame = {
    val bands = Tables.documents(s, dir)
      .select(split(col("text"), " ").as("ts"))
      .select(expr("least(4, size(ts) div 15)").as("ra"),
        expr("least(4, size(array_distinct(ts)) div 15)").as("rb"))
    val o = bands.groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("n"))
    val upper = o.as("u").join(broadcast(o.as("l")),
        col("l.ra") === col("u.rb") && col("l.rb") === col("u.ra"), "left")
      .filter(col("u.ra") < col("u.rb"))
      .select(col("u.ra").as("i"), col("u.rb").as("j"), col("u.n").as("nij"),
        coalesce(col("l.n"), lit(0L)).as("nji"))
    // pairs where only the lower triangle is populated (nij side absent)
    val lowerOnly = o.as("l").join(broadcast(o.as("u")),
        col("u.ra") === col("l.rb") && col("u.rb") === col("l.ra"), "left_anti")
      .filter(col("l.ra") > col("l.rb"))
      .select(col("l.rb").as("i"), col("l.ra").as("j"), lit(0L).as("nij"),
        col("l.n").as("nji"))
    val cells = upper.unionAll(lowerOnly)
    val tot = o.agg(sum(col("n")).as("n_docs"))
    cells.filter(col("nij") + col("nji") > 0)
      .agg(count(lit(1)).as("df"),
        sum(expr("(nij - nji) * (nij - nji) * 1000 div (nij + nji)")).as("chi2_milli"))
      .crossJoin(broadcast(tot))
      .select(col("n_docs"), col("df"), col("chi2_milli"))
  }

  val q486Sql: String =
    """WITH bands AS (
      |  SELECT least(4, len(string_split(text, ' ')) // 15) AS ra,
      |    least(4, len(list_distinct(string_split(text, ' '))) // 15) AS rb
      |  FROM documents
      |), o AS (
      |  SELECT ra, rb, count(*) AS n FROM bands GROUP BY 1, 2
      |), upper_c AS (
      |  SELECT u.ra AS i, u.rb AS j, u.n AS nij, coalesce(l.n, 0) AS nji
      |  FROM o u LEFT JOIN o l ON l.ra = u.rb AND l.rb = u.ra
      |  WHERE u.ra < u.rb
      |), lower_only AS (
      |  SELECT l.rb AS i, l.ra AS j, CAST(0 AS BIGINT) AS nij, l.n AS nji
      |  FROM o l ANTI JOIN o u ON u.ra = l.rb AND u.rb = l.ra
      |  WHERE l.ra > l.rb
      |), cells AS (
      |  SELECT * FROM upper_c UNION ALL SELECT * FROM lower_only
      |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs FROM o)
      |SELECT tot.n_docs, count(*) AS df,
      |  CAST(sum((nij - nji) * (nij - nji) * 1000 // (nij + nji)) AS BIGINT)
      |    AS chi2_milli
      |FROM cells, tot WHERE nij + nji > 0
      |GROUP BY tot.n_docs""".stripMargin

  // -------------------------------------------------------------- q487

  /** q487: over the first 12 days (rank by day, 0-based index), the
    * observed split = even indices vs odd; D = Σ_even − Σ_odd. The
    * exact two-sided p enumerates all C(12,6) = 924 equal-split
    * assignments via a 4096-mask grid (popcount 6), p_two_ppm =
    * #(|D_m| ≥ |D_obs|)·10⁶ div 924.
    */
  def q487_permutation_test(s: SparkSession, dir: String): DataFrame = {
    val d12 = daily(s, dir).orderBy(col("day")).limit(12)
    val idx = d12.as("a").join(broadcast(d12.as("b")), col("b.day") <= col("a.day"))
      .groupBy(col("a.day").as("day"), col("a.n_ev").as("x"))
      .agg((count(lit(1)) - 1L).as("i"))
    val obs = idx.agg(sum(when(expr("i % 2 = 0"), col("x")).otherwise(-col("x")))
      .as("d_obs"))
    val masks = s.range(0, 4096).select(col("id").as("m"))
      .filter(expr("bit_count(m) = 6"))
    val sums = masks.crossJoin(broadcast(idx))
      .groupBy(col("m"))
      .agg(sum(when(expr("shiftright(m, CAST(i AS INT)) & 1 = 1"), col("x"))
        .otherwise(-col("x"))).as("d_m"))
    sums.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perms"),
        min(col("d_obs")).as("d_obs"),
        sum(when(abs(col("d_m")) >= abs(col("d_obs")), 1L).otherwise(0L))
          .as("n_extreme"))
      .select(lit(12L).as("n_days_used"), col("d_obs"), col("n_perms"),
        col("n_extreme"),
        expr("n_extreme * 1000000 div n_perms").as("p_two_ppm"))
  }

  val q487Sql: String =
    s"""WITH d12 AS (
       |  SELECT day, n_ev FROM ($DailySql) ORDER BY day LIMIT 12
       |), idx AS (
       |  SELECT day, n_ev AS x,
       |    CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS i
       |  FROM d12
       |), obs AS (
       |  SELECT CAST(sum(CASE WHEN i % 2 = 0 THEN x ELSE -x END) AS BIGINT)
       |    AS d_obs
       |  FROM idx
       |), masks AS (
       |  SELECT m FROM (SELECT unnest(range(0, 4096)) AS m)
       |  WHERE bit_count(CAST(m AS BIGINT)) = 6
       |), sums AS (
       |  SELECT m, CAST(sum(CASE WHEN (m >> CAST(i AS INT)) & 1 = 1
       |    THEN x ELSE -x END) AS BIGINT) AS d_m
       |  FROM masks CROSS JOIN idx GROUP BY m
       |)
       |SELECT CAST(12 AS BIGINT) AS n_days_used, obs.d_obs,
       |  count(*) AS n_perms,
       |  CAST(sum(CASE WHEN abs(d_m) >= abs(obs.d_obs) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_extreme,
       |  CAST(sum(CASE WHEN abs(d_m) >= abs(obs.d_obs) THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000000 // count(*) AS p_two_ppm
       |FROM sums, obs GROUP BY obs.d_obs""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q484_durbin_watson", q484_durbin_watson _, q484Sql),
    Query("q485_seasonal_mann_kendall", q485_seasonal_mann_kendall _, q485Sql),
    Query("q486_bowker_symmetry", q486_bowker_symmetry _, q486Sql),
    Query("q487_permutation_test", q487_permutation_test _, q487Sql)
  )
}
