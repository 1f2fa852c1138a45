package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import QueryBlocks.{daily, DailySql}

/** Distribution-free intervals and the survival
  * curve q389 left to "the consumer".
  *
  *  - q480 exact order-statistic CI for the median of the daily event
  *    series: the largest symmetric rank pair (x_(l), x_(n+1−l)) whose
  *    exact Bin(n, ½) coverage ≥ 95% — the distribution-free median
  *    interval next to q375's Wilson (proportions) and q416's Tukey
  *    fences (flags, not intervals).
  *  - q481 Wilks distribution-free tolerance interval: the exact
  *    confidence that (min, max) of the n daily values covers ≥ 90% of
  *    the population, 1 − n·p^{n−1}(1−p)·… evaluated as ONE rational
  *    with p = 9/10 (integer power folds, no FP).
  *  - q482 discrete Kaplan–Meier + Nelson–Aalen over days from a
  *    user's first event to first purchase (censored at the window
  *    end) — q389 ships the hazard and says survival "needs a
  *    cumulative product, which the consumer composes"; this IS that
  *    composition, as the pinned in-order integer fold (q343's idiom):
  *    S(t) = fold acc·(n_s − d_s) div n_s from 10⁶, H(t) =
  *    Σ d_s·10⁶ div n_s (per-step truncation stated).
  *  - q483 restricted mean survival time + median survival off the
  *    same curve: RMST = Σ S(step)·width ppm·days over the observed
  *    horizon, median = first t with S ≤ 500000 (NULL if never).
  *
  * Scale shapes: every frame is day-window-bounded (30 rows) after one
  * events rollup: rank/risk-set suffix sums are 30×30 broadcast
  * triangles; the KM fold runs over a ≤30-element collected array (the
  * bounded-collect contract). The fold step acc·(n−d) ≤ 10⁶·n_risk
  * stays in BIGINT for n_risk < 9·10¹² (stated).
  */
object ExtensionQueries130 extends QueryGroup {

  /** SQL-fragment C(n, k) as an exact integer fold (q439's idiom). */
  private def binomSpark(m: String, j: String): String =
    s"CASE WHEN $j = 0 THEN CAST(1 AS BIGINT) ELSE aggregate(sequence(1L, $j), " +
      s"CAST(1 AS BIGINT), (acc, bt) -> acc * ($m - bt + 1) div bt) END"

  private def binomDuck(m: String, j: String): String =
    s"CASE WHEN $j = 0 THEN CAST(1 AS BIGINT) ELSE list_reduce(" +
      s"list_prepend(CAST(1 AS BIGINT), range(1, $j + 1)), " +
      s"(acc, bt) -> acc * ($m - bt + 1) // bt) END"

  // -------------------------------------------------------------- q480

  /** q480: coverage(l) = (2ⁿ − 2·Σ_{i<l} C(n,i))·10⁶ div 2ⁿ; emit the
    * LARGEST l with coverage ≥ 950000 plus the value pair at ranks
    * (l, n+1−l) — rank ties broken by day (stated).
    */
  def q480_median_exact_ci(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
    val ranked = d.as("a").join(broadcast(d.as("b")),
        col("b.n_ev") < col("a.n_ev") ||
          (col("b.n_ev") === col("a.n_ev") && col("b.day") <= col("a.day")))
      .groupBy(col("a.day"), col("a.n_ev")).agg(count(lit(1)).as("r"))
      .select(col("r"), col("n_ev"))
    val n = d.agg(count(lit(1)).as("n"))
    val cov = n.select(col("n"), explode(expr("sequence(1L, (n + 1) div 2)")).as("l"))
      .select(col("n"), col("l"), explode(expr("sequence(0L, l - 1)")).as("i"))
      .select(col("n"), col("l"), expr(binomSpark("n", "i")).as("binom"))
      .groupBy(col("n"), col("l")).agg(sum(col("binom")).as("lower_tail"))
      .select(col("n"), col("l"),
        expr("(shiftleft(CAST(1 AS BIGINT), CAST(n AS INT)) - 2 * lower_tail) " +
          "* 1000000 div shiftleft(CAST(1 AS BIGINT), CAST(n AS INT))").as("coverage_ppm"))
    val best = cov.filter(col("coverage_ppm") >= 950000L)
      .orderBy(col("l").desc).limit(1)
    best
      .join(ranked.withColumnRenamed("n_ev", "lower").withColumnRenamed("r", "rl"),
        col("rl") === col("l"))
      .join(ranked.withColumnRenamed("n_ev", "upper").withColumnRenamed("r", "ru"),
        col("ru") === expr("n + 1 - l"))
      .select(col("n").as("n_days"), col("l"), col("coverage_ppm"),
        col("lower"), col("upper"))
  }

  val q480Sql: String =
    s"""WITH daily AS ($DailySql),
       |ranked AS (
       |  SELECT CAST(row_number() OVER (ORDER BY n_ev, day) AS BIGINT) AS r, n_ev
       |  FROM daily
       |), nt AS (SELECT count(*) AS n FROM daily),
       |ls AS (SELECT n, unnest(range(1, (n + 1) // 2 + 1)) AS l FROM nt),
       |terms AS (SELECT n, l, unnest(range(0, l)) AS i FROM ls),
       |cov AS (
       |  SELECT n, l,
       |    (CAST(1 AS BIGINT) << CAST(n AS INT)) -
       |      2 * CAST(sum(${binomDuck("n", "i")}) AS BIGINT) AS num
       |  FROM terms GROUP BY n, l
       |), best AS (
       |  SELECT n, l, num * 1000000 // (CAST(1 AS BIGINT) << CAST(n AS INT))
       |    AS coverage_ppm
       |  FROM cov
       |  WHERE num * 1000000 // (CAST(1 AS BIGINT) << CAST(n AS INT)) >= 950000
       |  ORDER BY l DESC LIMIT 1
       |)
       |SELECT best.n AS n_days, best.l, best.coverage_ppm,
       |  lo.n_ev AS lower, hi.n_ev AS upper
       |FROM best
       |JOIN ranked lo ON lo.r = best.l
       |JOIN ranked hi ON hi.r = best.n + 1 - best.l""".stripMargin

  // -------------------------------------------------------------- q481

  /** q481: P(coverage of (min, max) ≥ 9/10) = (10ⁿ − 10n·9ⁿ⁻¹ +
    * (n−1)·9ⁿ)·10⁶ div 10ⁿ — exact integer powers via DECIMAL(38,0)
    * folds (10³⁰ ≈ 1e30 fits; valid to n ≤ 37, stated — the day
    * window is fixed at 30).
    */
  def q481_wilks_tolerance(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
    val agg = d.agg(count(lit(1)).as("n"), min(col("n_ev")).as("x_min"),
      max(col("n_ev")).as("x_max"))
    def pow(base: Int, e: String) =
      s"aggregate(sequence(1L, $e), CAST(1 AS DECIMAL(38,0)), " +
        s"(acc, pt) -> CAST(acc * $base AS DECIMAL(38,0)))"
    agg.select(col("n").as("n_days"), lit(90L).as("p_pct"),
        expr(s"CAST((${pow(10, "n")} - 10 * n * ${pow(9, "n - 1")} + " +
          s"(n - 1) * ${pow(9, "n")}) * 1000000 div ${pow(10, "n")} AS BIGINT)")
          .as("conf_ppm"),
        col("x_min"), col("x_max"))
  }

  val q481Sql: String = {
    def pow(base: Int, e: String) =
      s"list_reduce(list_prepend(CAST(1 AS HUGEINT), range(1, $e + 1)), " +
        s"(acc, pt) -> acc * $base)"
    s"""WITH daily AS ($DailySql),
       |agg AS (
       |  SELECT count(*) AS n, min(n_ev) AS x_min, max(n_ev) AS x_max FROM daily
       |)
       |SELECT n AS n_days, CAST(90 AS BIGINT) AS p_pct,
       |  CAST((${pow(10, "n")} - 10 * n * ${pow(9, "n - 1")} +
       |    (n - 1) * ${pow(9, "n")}) * 1000000 // ${pow(10, "n")} AS BIGINT)
       |    AS conf_ppm,
       |  x_min, x_max
       |FROM agg""".stripMargin
  }

  // -------------------------------------------------------------- q482

  /** q482: per user — origin = first event day, event time t = days to
    * first purchase, else censored at (window max day − origin). Per
    * observed t: d (events), c (censored), n_risk (suffix sum), KM
    * survival and NA cumulative hazard in ppm via the in-order fold
    * over the ≤30-step collected curve.
    */
  def q482_kaplan_meier(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("ts div 1000 div 86400000000").as("day"),
        (col("event_type") === "purchase").as("pur"))
    val maxd = ev.agg(max(col("day")).as("maxday"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("origin"),
        min(when(col("pur"), col("day"))).as("pday"))
      .crossJoin(broadcast(maxd))
      .select(
        coalesce(col("pday") - col("origin"), col("maxday") - col("origin")).as("t"),
        col("pday").isNotNull.as("event"))
    val perT = perUser.groupBy(col("t"))
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        sum(when(col("event"), 0L).otherwise(1L)).as("c"))
    val risk = perT.as("a").join(broadcast(perT.as("b")), col("b.t") >= col("a.t"))
      .groupBy(col("a.t").as("t"), col("a.d").as("d"), col("a.c").as("c"))
      .agg(sum(col("b.d") + col("b.c")).as("n_risk"))
    val curve = risk.agg(expr(
      "sort_array(collect_list(named_struct('t', t, 'd', d, 'n', n_risk))) ").as("arr"))
    risk.crossJoin(broadcast(curve))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        expr("aggregate(filter(arr, e -> e.t <= t), CAST(1000000 AS BIGINT), " +
          "(acc, e) -> acc * (e.n - e.d) div e.n)").as("km_survival_ppm"),
        expr("aggregate(filter(arr, e -> e.t <= t), CAST(0 AS BIGINT), " +
          "(acc, e) -> acc + e.d * 1000000 div e.n)").as("na_cumhaz_ppm"))
      .orderBy(col("t"))
  }

  val q482Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    event_type = 'purchase' AS pur
      |  FROM events
      |), maxd AS (SELECT max(day) AS maxday FROM ev),
      |per_user AS (
      |  SELECT coalesce(min(CASE WHEN pur THEN day END) - min(day),
      |      maxd.maxday - min(day)) AS t,
      |    min(CASE WHEN pur THEN day END) IS NOT NULL AS event
      |  FROM ev, maxd GROUP BY user_id, maxd.maxday
      |), per_t AS (
      |  SELECT t, CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS c
      |  FROM per_user GROUP BY t
      |), risk AS (
      |  SELECT a.t, a.d, a.c, CAST(sum(b.d + b.c) AS BIGINT) AS n_risk
      |  FROM per_t a JOIN per_t b ON b.t >= a.t
      |  GROUP BY a.t, a.d, a.c
      |), curve AS (
      |  SELECT list_sort(list({'t': t, 'd': d, 'n': n_risk})) AS arr FROM risk
      |)
      |SELECT r.t, r.n_risk, r.d, r.c,
      |  list_reduce(
      |    list_prepend({'v': CAST(1000000 AS BIGINT), 'n': CAST(1 AS BIGINT), 'd': CAST(0 AS BIGINT)},
      |      list_transform(list_filter(c.arr, e -> e.t <= r.t),
      |        e -> {'v': CAST(0 AS BIGINT), 'n': e.n, 'd': e.d})),
      |    (acc, e) -> {'v': acc.v * (e.n - e.d) // e.n, 'n': e.n, 'd': e.d}).v AS km_survival_ppm,
      |  CAST(list_sum(list_transform(list_filter(c.arr, e -> e.t <= r.t),
      |    e -> e.d * 1000000 // e.n)) AS BIGINT) AS na_cumhaz_ppm
      |FROM risk r, curve c ORDER BY r.t""".stripMargin

  // -------------------------------------------------------------- q483

  /** q483: from q482's curve — RMST = S(pre-first-step)·t_min (=10⁶·t_min)
    * + Σ S(tᵢ)·widthᵢ (width = next step − tᵢ; final width 1, stated),
    * in ppm·days; median survival = first t with S ≤ 500000 (NULL if
    * the curve never crosses).
    */
  def q483_rmst(s: SparkSession, dir: String): DataFrame = {
    val km = q482_kaplan_meier(s, dir).select(col("t"), col("km_survival_ppm"))
    val widths = km.as("a").join(broadcast(km.as("b")), col("b.t") > col("a.t"), "left")
      .groupBy(col("a.t").as("t"), col("a.km_survival_ppm").as("s"))
      .agg(min(col("b.t")).as("nxt"))
      .select(col("t"), col("s"), coalesce(col("nxt") - col("t"), lit(1L)).as("w"))
    widths.agg(min(col("t")).as("t_min"), max(col("t")).as("t_max"),
        sum(expr("s * w")).as("area"),
        min(when(col("s") <= 500000L, col("t"))).as("median_t"))
      .select(col("t_max").as("horizon_days"),
        (col("t_min") * 1000000L + col("area")).as("rmst_ppm_days"),
        col("median_t"))
  }

  val q483Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    event_type = 'purchase' AS pur
      |  FROM events
      |), maxd AS (SELECT max(day) AS maxday FROM ev),
      |per_user AS (
      |  SELECT coalesce(min(CASE WHEN pur THEN day END) - min(day),
      |      maxd.maxday - min(day)) AS t,
      |    min(CASE WHEN pur THEN day END) IS NOT NULL AS event
      |  FROM ev, maxd GROUP BY user_id, maxd.maxday
      |), per_t AS (
      |  SELECT t, CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS c
      |  FROM per_user GROUP BY t
      |), risk AS (
      |  SELECT a.t, a.d, CAST(sum(b.d + b.c) AS BIGINT) AS n_risk
      |  FROM per_t a JOIN per_t b ON b.t >= a.t
      |  GROUP BY a.t, a.d
      |), curve AS (
      |  SELECT list_sort(list({'t': t, 'd': d, 'n': n_risk})) AS arr FROM risk
      |), km AS (
      |  SELECT r.t,
      |    list_reduce(
      |      list_prepend({'v': CAST(1000000 AS BIGINT), 'n': CAST(1 AS BIGINT), 'd': CAST(0 AS BIGINT)},
      |        list_transform(list_filter(c.arr, e -> e.t <= r.t),
      |          e -> {'v': CAST(0 AS BIGINT), 'n': e.n, 'd': e.d})),
      |      (acc, e) -> {'v': acc.v * (e.n - e.d) // e.n, 'n': e.n, 'd': e.d}).v AS s
      |  FROM risk r, curve c
      |), widths AS (
      |  SELECT a.t, a.s, coalesce(min(b.t) - a.t, 1) AS w
      |  FROM km a LEFT JOIN km b ON b.t > a.t
      |  GROUP BY a.t, a.s
      |)
      |SELECT CAST(max(t) AS BIGINT) AS horizon_days,
      |  CAST(min(t) * 1000000 + sum(s * w) AS BIGINT) AS rmst_ppm_days,
      |  min(CASE WHEN s <= 500000 THEN t END) AS median_t
      |FROM widths""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q480_median_exact_ci", q480_median_exact_ci _, q480Sql),
    Query("q481_wilks_tolerance", q481_wilks_tolerance _, q481Sql),
    Query("q482_kaplan_meier", q482_kaplan_meier _, q482Sql),
    Query("q483_rmst", q483_rmst _, q483Sql)
  )
}
