package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.PrefixScan

/** Round-9 batch 17: experimentation + lifecycle + drift-location
  * primitives — all exact-integer (128-bit where 64 bits cannot carry
  * the cross-products), all DuckDB-oracle-gated.
  *
  *  - q181: exact 2×2 chi-square A/B significance — the experimentation
  *    readout, decided in DECIMAL(38) cross-multiplication so no float
  *    (and no 64-bit overflow) touches the verdict.
  *  - q182: Day-N retention (D1/D7/D14) — the lifecycle KPI next to
  *    q133's cohort triangle.
  *  - q183: decile QQ drift table — WHERE two distributions diverge,
  *    complementing q167's KS (which only says how much, at the worst
  *    point).
  */
object ExtensionQueries29 extends QueryGroup {

  // --------------------------------------------------------------- q181

  /** q181: exact chi-square independence test on the 2×2 table
    * (variant = user_id parity) × (high-frequency buyer = at least 14
    * purchases; every user in this corpus purchases at least once, so
    * "ever purchased" would degenerate a margin to zero) — the A/B
    * experimentation readout. Emits the four cells, the exact
    * `chi2_micro = N·(ad−bc)²·10⁶ div (R₁·R₂·C₁·C₂)` (the Pearson
    * statistic in micro-units), and the 5% verdict
    * `N·(ad−bc)²·10⁶ > 3841459·R₁·R₂·C₁·C₂` (χ²₍₀.₀₅,1₎ = 3.841459).
    *
    * Exactness: the cells fold distributed (map-side combined 1-row
    * aggregate); the chi-square arithmetic then runs IN THE PLAN via the
    * [[graft.functions.ChiSq2x2]] BigInteger expressions over the 1-row
    * aggregate ([[chiSquareExact]]) — exact at ANY magnitude, matching
    * DuckDB's HUGEINT→unbounded path with no ceiling. (Through round 10
    * this tail was chained DECIMAL(20,0) products, which Spark caps at
    * DECIMAL(38,0) — NULL past num ≈ 1e38, i.e. ~3·10⁸ rows per cell;
    * round 11 moved it to a driver BigInt fold, which broke plan
    * laziness — round-11 advice returned it to the data plane.)
    *
    * Scale shape: one events scan folds to per-user (variant, bought);
    * the table is a single 1-row aggregate (map-side combined); the
    * BigInt arithmetic touches four longs. Nothing shuffles but the
    * user-keyed fold.
    */
  def q181_ab_chisquare(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)) >= 14L, 1L).otherwise(0L).as("bought"))
      .select((col("user_id") % 2).as("variant"), col("bought"))
    chiSquareExact(s, users.agg(
      sum(when(col("variant") === 0 && col("bought") === 1, 1L)
        .otherwise(0L)).as("a"),
      sum(when(col("variant") === 0 && col("bought") === 0, 1L)
        .otherwise(0L)).as("b"),
      sum(when(col("variant") === 1 && col("bought") === 1, 1L)
        .otherwise(0L)).as("c"),
      sum(when(col("variant") === 1 && col("bought") === 0, 1L)
        .otherwise(0L)).as("d")))
  }

  /** Exact 2×2 Pearson chi-square over an (a, b, c, d) 1-row cell frame:
    * `chi2_micro = N·(ad−bc)²·10⁶ div margins` and the 5% verdict,
    * computed by the [[graft.functions.ChiSq2x2]] BigInteger expressions
    * INSIDE the plan — exact at any magnitude (the round-10 DECIMAL(38)
    * ceiling stays gone) while the scan stays lazy: constructing the
    * query no longer executes it, and PlanGate/FleetPlanShapeSpec audit
    * the real aggregate instead of a pre-folded 1-row LocalRelation
    * (round-11 advice, medium). Truncating division toward zero on
    * non-negative quantities ≡ DuckDB `//`; a degenerate zero margin
    * yields NULL chi2 (never hit on real data — a margin of zero means a
    * constant factor). Shared by q181 and q280.
    */
  private[graft] def chiSquareExact(s: SparkSession, cells: DataFrame): DataFrame = {
    import graft.functions.ChiSq2x2
    val (a, b, c, d) = (col("a"), col("b"), col("c"), col("d"))
    cells.select(a, b, c, d,
      ChiSq2x2.chi2Micro(a, b, c, d).as("chi2_micro"),
      ChiSq2x2.significant(a, b, c, d).as("significant"))
  }

  val q181Sql: String =
    """WITH u AS (
      |  SELECT user_id % 2 AS variant,
      |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      >= 14 THEN 1 ELSE 0 END AS bought
      |  FROM events GROUP BY user_id
      |), t AS (
      |  SELECT
      |    CAST(sum(CASE WHEN variant = 0 AND bought = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN variant = 0 AND bought = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN variant = 1 AND bought = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN variant = 1 AND bought = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM u
      |), w AS (
      |  SELECT a, b, c, d,
      |    CAST(a + b + c + d AS HUGEINT)
      |      * CAST(a*d - b*c AS HUGEINT)
      |      * CAST(a*d - b*c AS HUGEINT) * 1000000 AS num,
      |    CAST(a + b AS HUGEINT) * CAST(c + d AS HUGEINT)
      |      * CAST(a + c AS HUGEINT) * CAST(b + d AS HUGEINT) AS den
      |  FROM t
      |)
      |SELECT a, b, c, d, CAST(num // den AS BIGINT) AS chi2_micro,
      |  num > den * 3841459 AS significant
      |FROM w""".stripMargin

  // --------------------------------------------------------------- q182

  /** q182: Day-N retention — of users whose FIRST signup fell on
    * calendar day s, how many were active (any event) exactly N calendar
    * days later, for N ∈ {1, 7, 14}. The lifecycle KPI beside q133's
    * weekly cohort triangle; day arithmetic is exact integer
    * `µs div 86 400 000 000`.
    *
    * Scale shape: one events scan feeds both the per-user first-signup
    * fold and the (user, active-day) dedup exchange; retention is a
    * user-keyed join of the two small frames, then a ≤3-row rollup with
    * the 1-row signup total broadcast. No windows, no per-day fan-out —
    * the offsets frame is a 3-row broadcast.
    */
  def q182_dayn_retention(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr(s"ts div 1000 div $dayUs").as("day"))
    val signups = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("day")).as("s_day"))
    val active = e.select(col("user_id"), col("day")).distinct()
    val offsets = s.createDataFrame(Seq(Tuple1(1L), Tuple1(7L), Tuple1(14L)))
      .toDF("day_n")
    val total = signups.agg(count(lit(1)).as("n_signups"))
    val retained = signups.join(broadcast(offsets))
      .join(active, Seq("user_id"))
      .where(col("day") === col("s_day") + col("day_n"))
      .groupBy(col("day_n"))
      .agg(countDistinct(col("user_id")).as("n_retained"))
    offsets.join(retained, Seq("day_n"), "left")
      .na.fill(0L, Seq("n_retained"))
      .crossJoin(broadcast(total))
      .select(col("day_n"), col("n_signups"), col("n_retained"),
        expr("n_retained * 1000000 div n_signups").as("retention_ppm"))
      .orderBy(col("day_n"))
  }

  val q182Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |), s AS (
      |  SELECT user_id, min(day) AS s_day FROM e
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), act AS (
      |  SELECT DISTINCT user_id, day FROM e
      |), t AS (SELECT count(*) AS n_signups FROM s
      |), offs AS (SELECT unnest([1, 7, 14]::BIGINT[]) AS day_n
      |), r AS (
      |  SELECT o.day_n, count(DISTINCT s.user_id) AS n_retained
      |  FROM offs o
      |  LEFT JOIN (s JOIN act ON s.user_id = act.user_id)
      |    ON act.day = s.s_day + o.day_n
      |  GROUP BY o.day_n
      |)
      |SELECT day_n, n_signups, CAST(n_retained AS BIGINT) AS n_retained,
      |  CAST(n_retained * 1000000 // n_signups AS BIGINT) AS retention_ppm
      |FROM r, t
      |ORDER BY day_n""".stripMargin

  // --------------------------------------------------------------- q183

  /** q183: decile QQ drift table between the order-value distributions
    * of the odd/even order-key halves — for each k/10, the exact decile
    * value of each half (ceil-rank order statistic, q160's
    * `(n·k + 9) div 10` spelling — never float interpolation) and the
    * signed gap in cents. q167's KS says HOW MUCH the distributions
    * diverge at the single worst point; the QQ table says WHERE along
    * the distribution the drift lives.
    *
    * Scale shape: one value-keyed count aggregate carries BOTH halves;
    * cumulative counts come from the same two-phase
    * [[graft.ops.PrefixScan.prefixSumsInclusive]] pass (one checkpoint,
    * one bounded collect); the decile selection is a 10-row broadcast
    * joined against the (distinct-values)-sized cum frame, folded by a
    * conditional min.
    */
  def q183_qq_drift(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select((col("o_orderkey") % 2).as("half"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val counts = o.groupBy(col("cents"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("cb"))
    val cum = PrefixScan.prefixSumsInclusive(counts, 32, Seq(col("cents")),
      Seq((col("ca"), "cuma"), (col("cb"), "cumb")))
    val totals = o.agg(
      sum(when(col("half") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("half") === 1, 1L).otherwise(0L)).as("nb"))
    val ks = s.range(1, 11).select(col("id").as("decile"))
    cum.crossJoin(broadcast(totals)).crossJoin(broadcast(ks))
      .groupBy(col("decile"))
      .agg(
        min(when(col("cuma") >= expr("(na * decile + 9) div 10"),
          col("cents"))).as("va_cents"),
        min(when(col("cumb") >= expr("(nb * decile + 9) div 10"),
          col("cents"))).as("vb_cents"))
      .select(col("decile"), col("va_cents"), col("vb_cents"),
        (col("va_cents") - col("vb_cents")).as("gap_cents"))
      .orderBy(col("decile"))
  }

  val q183Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey % 2 AS half,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), c AS (
      |  SELECT cents,
      |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM o GROUP BY cents
      |), cum AS (
      |  SELECT cents,
      |    CAST(sum(ca) OVER (ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
      |    CAST(sum(cb) OVER (ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
      |  FROM c
      |), t AS (
      |  SELECT CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM o
      |), ks AS (SELECT unnest(range(1, 11)) AS decile)
      |SELECT decile,
      |  min(CASE WHEN cuma >= (na * decile + 9) // 10 THEN cents END) AS va_cents,
      |  min(CASE WHEN cumb >= (nb * decile + 9) // 10 THEN cents END) AS vb_cents,
      |  min(CASE WHEN cuma >= (na * decile + 9) // 10 THEN cents END)
      |    - min(CASE WHEN cumb >= (nb * decile + 9) // 10 THEN cents END)
      |    AS gap_cents
      |FROM cum, t, ks
      |GROUP BY decile
      |ORDER BY decile""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q181_ab_chisquare", q181_ab_chisquare _, q181Sql),
    Query("q182_dayn_retention", q182_dayn_retention _, q182Sql),
    Query("q183_qq_drift", q183_qq_drift _, q183Sql)
  )
}
