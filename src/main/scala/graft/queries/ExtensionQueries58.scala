package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{DenseIds, PrefixScan}

/** Round-9 batch 46: aggregation paradoxes, cohort decay, and 2D
  * inventory classing — exact-integer, DuckDB-oracle-gated.
  *
  *  - q267: Simpson's-paradox check on segment order values.
  *  - q268: cohort activity half-life.
  *  - q269: ABC × XYZ inventory matrix.
  */
object ExtensionQueries58 extends QueryGroup {

  // --------------------------------------------------------------- q267

  /** q267: Simpson's-paradox check — for the two largest market
    * segments, does the OVERALL mean-order-value ordering agree with
    * the per-nation orderings? All comparisons are cross-multiplied
    * (`sumA·nB vs sumB·nA` — means never materialize), so the verdict
    * is exact: one row with the overall sign, nations agreeing /
    * disagreeing / tied, and the paradox flag (overall contradicts the
    * nation majority). The aggregation trap every drill-down dashboard
    * silently risks, checked mechanically.
    *
    * Scale shape: per-(segment, nation) sums fold once; the two-segment
    * frame pivots by a self-join on nation (≤|nations| rows); the
    * verdict is a 1-row fold.
    */
  def q267_simpsons_check(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nation"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    // top-2 segments by population: a ≤|segments| bounded collect (the
    // trained-model-literal pattern) — no partition-less window anywhere
    val segs = base.groupBy(col("segment")).agg(count(lit(1)).as("n"))
      .collect().sortBy(r => (-r.getLong(1), r.getString(0))).take(2)
      .map(_.getString(0))
    val top2 = s.createDataFrame(Seq((segs(0), 1L), (segs(1), 2L)))
      .toDF("segment", "rk")
    val cells = base.join(broadcast(top2), "segment")
      .groupBy(col("nation"), col("rk"))
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))
    val paired = cells.filter(col("rk") === 1)
      .select(col("nation"), col("s").as("sa"), col("n").as("na"))
      .join(cells.filter(col("rk") === 2)
        .select(col("nation"), col("s").as("sb"), col("n").as("nb")),
        "nation")
    val overall = paired.agg(sum(col("sa")).as("ta"), sum(col("na")).as("ca"),
      sum(col("sb")).as("tb"), sum(col("nb")).as("cb"))
    paired
      .select(signum(col("sa") * col("nb") - col("sb") * col("na"))
        .cast("long").as("sgn"))
      .groupBy()
      .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_a_wins"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_b_wins"),
        sum(when(col("sgn") === 0, 1L).otherwise(0L)).as("n_ties"))
      .crossJoin(broadcast(overall))
      .select(
        signum(col("ta") * col("cb") - col("tb") * col("ca")).cast("long")
          .as("overall_sign"),
        col("n_a_wins"), col("n_b_wins"), col("n_ties"),
        ((signum(col("ta") * col("cb") - col("tb") * col("ca")) === 1 &&
          col("n_b_wins") > col("n_a_wins")) ||
          (signum(col("ta") * col("cb") - col("tb") * col("ca")) === -1 &&
            col("n_a_wins") > col("n_b_wins"))).as("paradox"))
  }

  val q267Sql: String =
    """WITH base AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(c_nationkey AS BIGINT) AS nation,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |), top2 AS (
      |  SELECT segment,
      |    row_number() OVER (ORDER BY count(*) DESC, segment) AS rk
      |  FROM base GROUP BY segment
      |  ORDER BY count(*) DESC, segment LIMIT 2
      |), cells AS (
      |  SELECT nation, rk, CAST(sum(cents) AS BIGINT) AS s,
      |    count(*) AS n
      |  FROM base JOIN top2 ON base.segment = top2.segment
      |  GROUP BY nation, rk
      |), paired AS (
      |  SELECT a.nation, a.s AS sa, a.n AS na, b.s AS sb, b.n AS nb
      |  FROM cells a JOIN cells b
      |    ON a.nation = b.nation AND a.rk = 1 AND b.rk = 2
      |), ov AS (
      |  SELECT CAST(sum(sa) AS BIGINT) AS ta, CAST(sum(na) AS BIGINT) AS ca,
      |    CAST(sum(sb) AS BIGINT) AS tb, CAST(sum(nb) AS BIGINT) AS cb
      |  FROM paired
      |), sg AS (
      |  SELECT
      |    CAST(sum(CASE WHEN sa * nb - sb * na > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_a_wins,
      |    CAST(sum(CASE WHEN sa * nb - sb * na < 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_b_wins,
      |    CAST(sum(CASE WHEN sa * nb - sb * na = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_ties
      |  FROM paired
      |)
      |SELECT CAST(sign(ta * cb - tb * ca) AS BIGINT) AS overall_sign,
      |  n_a_wins, n_b_wins, n_ties,
      |  (sign(ta * cb - tb * ca) = 1 AND n_b_wins > n_a_wins)
      |    OR (sign(ta * cb - tb * ca) = -1 AND n_a_wins > n_b_wins)
      |    AS paradox
      |FROM sg, ov""".stripMargin

  // --------------------------------------------------------------- q268

  /** q268: cohort activity half-life — per signup-week cohort, the
    * first week offset at which the cohort's active-user count drops
    * to half its week-0 level or below (exact integer comparison
    * `2·active ≤ active₀`), or −1 if it never halves inside the
    * observed window. The decay-speed summary of q133's full
    * triangle.
    *
    * Scale shape: one events pass → first-signup fold + (cohort,
    * offset, user) dedup; the half-life is a conditional-min fold per
    * cohort against the broadcast week-0 levels.
    */
  def q268_activity_halflife(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400000000L
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr(s"ts div 1000 div $weekUs").as("week"))
    val cohorts = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("week")).as("cweek"))
    val active = e.select(col("user_id"), col("week")).distinct()
      .join(cohorts, "user_id")
      .select(col("cweek"), (col("week") - col("cweek")).as("off"),
        col("user_id"))
      .filter(col("off") >= 0).distinct()
      .groupBy(col("cweek"), col("off"))
      .agg(count(lit(1)).as("active"))
    val base = active.filter(col("off") === 0)
      .select(col("cweek"), col("active").as("a0"))
    active.join(broadcast(base), "cweek")
      .groupBy(col("cweek"), col("a0"))
      .agg(coalesce(
        min(when(col("off") > 0 && col("active") * 2 <= col("a0"),
          col("off"))), lit(-1L)).as("halflife_weeks"))
      .select(col("cweek").as("cohort_week"), col("a0").as("week0_active"),
        col("halflife_weeks"))
      .orderBy(col("cohort_week"))
  }

  val q268Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) // 604800000000 AS week
      |  FROM events
      |), co AS (
      |  SELECT user_id, min(week) AS cweek FROM e
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), act AS (
      |  SELECT cweek, week - cweek AS off, count(DISTINCT e.user_id)
      |    AS active
      |  FROM (SELECT DISTINCT user_id, week FROM e) e
      |  JOIN co ON e.user_id = co.user_id
      |  WHERE week - cweek >= 0
      |  GROUP BY cweek, off
      |), b AS (
      |  SELECT cweek, active AS a0 FROM act WHERE off = 0
      |)
      |SELECT act.cweek AS cohort_week, CAST(a0 AS BIGINT) AS week0_active,
      |  CAST(COALESCE(min(CASE WHEN off > 0 AND active * 2 <= a0
      |    THEN off END), -1) AS BIGINT) AS halflife_weeks
      |FROM act JOIN b ON act.cweek = b.cweek
      |GROUP BY act.cweek, a0
      |ORDER BY cohort_week""".stripMargin

  // --------------------------------------------------------------- q269

  /** q269: ABC × XYZ inventory matrix — every part classed on TWO
    * axes: revenue importance (A/B/C by the q214 cumulative 80/95
    * cuts) and demand variability (X/Y/Z by the q236 dispersion index
    * of its weekly order-line counts: X ≤ 0.5, Y ≤ 1.5, Z above —
    * cross-multiplied against the ppm scale). The 9-cell matrix with
    * part counts and revenue is THE inventory-policy screen: AX funds
    * automation, CZ gets dropped.
    *
    * Scale shape: revenue + rank reuse the q214 two-phase passes;
    * per-part weekly counts fold once and the dispersion is a
    * part-keyed moment fold; the matrix is a ≤9-row aggregate.
    */
  def q269_abc_xyz_matrix(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400000000L
    val j = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("l_partkey"),
        (datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long") / lit(7L))
          .cast("long").as("week"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val rev = j.groupBy(col("l_partkey")).agg(sum(col("cents")).as("cents"))
    val ranked = DenseIds.withDenseId(rev, "rid", 16,
      col("cents").desc, col("l_partkey"))
    val cum = PrefixScan.prefixSumsInclusive(ranked, 16, Seq(col("rid")),
      Seq((col("cents"), "cum_cents")))
    val total = rev.agg(sum(col("cents")).as("total_cents"))
    val abc = cum.crossJoin(broadcast(total))
      .select(col("l_partkey"),
        when(col("cum_cents") * 100 <= col("total_cents") * 80, "A")
          .when(col("cum_cents") * 100 <= col("total_cents") * 95, "B")
          .otherwise(lit("C")).as("abc"), col("cents"))
    val weekly = j.groupBy(col("l_partkey"), col("week"))
      .agg(count(lit(1)).as("x"))
    val xyz = weekly.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"))
      .filter(col("n") > 1)
      .select(col("l_partkey"),
        when((col("n") * col("s2") - col("s1") * col("s1")) * 2 <=
          (col("n") - 1) * col("s1"), "X")
          .when((col("n") * col("s2") - col("s1") * col("s1")) * 2 <=
            (col("n") - 1) * col("s1") * 3, "Y")
          .otherwise(lit("Z")).as("xyz"))
    abc.join(xyz, "l_partkey")
      .groupBy(col("abc"), col("xyz"))
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"))
      .orderBy(col("abc"), col("xyz"))
  }

  val q269Sql: String =
    """WITH j AS (
      |  SELECT l_partkey,
      |    CAST(datediff('day', DATE '1970-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) // 7 AS week,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), rev AS (
      |  SELECT l_partkey, CAST(sum(cents) AS BIGINT) AS cents
      |  FROM j GROUP BY l_partkey
      |), r AS (
      |  SELECT l_partkey, cents,
      |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_cents
      |  FROM rev
      |), t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM rev
      |), abc AS (
      |  SELECT l_partkey, cents,
      |    CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
      |      WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
      |      ELSE 'C' END AS abc
      |  FROM r, t
      |), wk AS (
      |  SELECT l_partkey, week, count(*) AS x FROM j
      |  GROUP BY l_partkey, week
      |), xyz AS (
      |  SELECT l_partkey,
      |    CASE WHEN (n * s2 - s1 * s1) * 2 <= (n - 1) * s1 THEN 'X'
      |      WHEN (n * s2 - s1 * s1) * 2 <= (n - 1) * s1 * 3 THEN 'Y'
      |      ELSE 'Z' END AS xyz
      |  FROM (
      |    SELECT l_partkey, count(*) AS n, CAST(sum(x) AS BIGINT) AS s1,
      |      CAST(sum(x * x) AS BIGINT) AS s2
      |    FROM wk GROUP BY l_partkey
      |    HAVING count(*) > 1
      |  )
      |)
      |SELECT abc.abc, xyz.xyz, count(*) AS n_parts,
      |  CAST(sum(cents) AS BIGINT) AS cents
      |FROM abc JOIN xyz ON abc.l_partkey = xyz.l_partkey
      |GROUP BY abc.abc, xyz.xyz
      |ORDER BY abc.abc, xyz.xyz""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q267_simpsons_check", q267_simpsons_check _, q267Sql),
    Query("q268_activity_halflife", q268_activity_halflife _, q268Sql),
    Query("q269_abc_xyz_matrix", q269_abc_xyz_matrix _, q269Sql)
  )
}
