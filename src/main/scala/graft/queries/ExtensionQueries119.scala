package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.CoPurchase

/** Round-15 batch 2: serial dependence and graph mixing structure.
  *
  *  - q440 lag-1 autocorrelation of the daily event series — the
  *    persistence readout next to q386's Mann–Kendall direction and
  *    q140's seasonal deviations. Exact signed-r² form: with pairs
  *    (c_i, c_{i+1}), num = nΣxy − ΣxΣy and r² = num²/(den_x·den_y);
  *    sign(num)·r²·10⁶ is integer-exact — no square roots, the same
  *    convention as q85's cos².
  *  - q441 degree assortativity of the co-purchase graph (q427's
  *    co ≥ 2 edge rule) — do hubs link to hubs? Pearson r over the
  *    SYMMETRIZED edge endpoint-degree pairs collapses to
  *    r = (2mΣxy − (Σx)²) / (2mΣx² − (Σx)²) exactly (den_x = den_y by
  *    symmetry), so the full signed coefficient is ONE integer
  *    division in ppm — no sqrt approximation at all.
  *  - q442 local clustering — per-node triangle density averaged
  *    (Watts–Strogatz C̄) plus global transitivity (3·triangles /
  *    wedges), both exact ppm. Completes the graph-structure tier:
  *    q106 counts triangles, q427 measures the rich club, this
  *    measures closure.
  *
  * Scale shapes: q440 is a 30-row daily rollup + an i→i+1 equi-join;
  * q441/q442 reuse the bounded co≥2 edge frame (one distinct+rollup,
  * broadcast degree joins); q442's triangle enumeration is the
  * standard a<b<c two-hop join on that pruned edge set. DECIMAL(38,0)
  * / HUGEINT on all squared products.
  */
object ExtensionQueries119 extends QueryGroup {

  private val coEdgesSql: String =
    """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2
      |)""".stripMargin

  // -------------------------------------------------------------- q440

  /** q440: signed lag-1 autocorrelation of daily event counts in ppm.
    * r²_signed = sign(num)·num²·10⁶ div (den_x·den_y) with
    * num = nΣxy − ΣxΣy — exact; n ≤ 29 pairs on the 30-day window
    * (the i→i+1 equi-join drops any gap day identically on both
    * engines).
    */
  def q440_lag1_autocorrelation(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(expr("ts div 1000 div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_ev"))
    val pairs = daily.as("a").join(broadcast(daily.as("b")),
        col("b.day") === col("a.day") + 1)
      .select(col("a.n_ev").as("x"), col("b.n_ev").as("y"))
    pairs.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(col("n").as("n_pairs"),
        expr("CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS BIGINT)").as("cov_num"),
        expr("CAST(CASE WHEN n * sxy - CAST(sx AS DECIMAL(38,0)) * sy < 0 THEN -1 ELSE 1 END * " +
          "(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * (n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) " +
          "* 1000000 div ((n * sxx - CAST(sx AS DECIMAL(38,0)) * sx) * " +
          "(n * syy - CAST(sy AS DECIMAL(38,0)) * sy)) AS BIGINT)").as("r2_signed_ppm"))
  }

  val q440Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n_ev
      |  FROM events GROUP BY 1
      |), pairs AS (
      |  SELECT a.n_ev AS x, b.n_ev AS y
      |  FROM daily a JOIN daily b ON b.day = a.day + 1
      |), agg AS (
      |  SELECT count(*) AS n, CAST(sum(x) AS HUGEINT) AS sx,
      |    CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      |  FROM pairs
      |)
      |SELECT n AS n_pairs,
      |  CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
      |  CAST(CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END *
      |    (n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000
      |    // ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS BIGINT)
      |    AS r2_signed_ppm
      |FROM agg""".stripMargin

  // -------------------------------------------------------------- q441

  /** q441: degree assortativity r in exact ppm. Over the 2m symmetrized
    * endpoint pairs (x = deg u, y = deg v): Σx = Σy and Σx² = Σy², so
    * r = (2mΣxy − (Σx)²) div (2mΣx² − (Σx)²) exactly — computed off
    * the undirected edge list with x·y summed once per edge (×2) and
    * the degree moments off the degree frame.
    */
  def q441_degree_assortativity(s: SparkSession, dir: String): DataFrame = {
    val e = CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 2)
      .select(col("part_a").as("u"), col("part_b").as("v"))
    val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(broadcast(deg.select(col("node").as("u"), col("deg").as("du"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("deg").as("dv"))), "v")
    val em = withDeg.agg(count(lit(1)).as("m"),
      sum(expr("CAST(du AS DECIMAL(38,0)) * dv")).as("sxy_half"))
    // endpoint moments: each node appears deg times as an endpoint
    val dm = deg.agg(sum(expr("CAST(deg AS DECIMAL(38,0)) * deg")).as("sx"),
      sum(expr("CAST(deg AS DECIMAL(38,0)) * deg * deg")).as("sxx"))
    em.crossJoin(broadcast(dm))
      .select(col("m").as("n_edges"),
        expr("CAST(2 * m * (2 * sxy_half) - sx * sx AS BIGINT)").as("num"),
        expr("CAST((2 * m * (2 * sxy_half) - sx * sx) * 1000000 div " +
          "(2 * m * sxx - sx * sx) AS BIGINT)").as("assortativity_ppm"))
  }

  val q441Sql: String =
    s"""WITH $coEdgesSql,
       |deg AS (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT u AS node FROM e UNION ALL SELECT v FROM e
       |  ) GROUP BY node
       |), em AS (
       |  SELECT count(*) AS m,
       |    CAST(sum(CAST(du.deg AS HUGEINT) * dv.deg) AS HUGEINT) AS sxy_half
       |  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
       |), dm AS (
       |  SELECT CAST(sum(CAST(deg AS HUGEINT) * deg) AS HUGEINT) AS sx,
       |    CAST(sum(CAST(deg AS HUGEINT) * deg * deg) AS HUGEINT) AS sxx
       |  FROM deg
       |)
       |SELECT m AS n_edges,
       |  CAST(2 * m * (2 * sxy_half) - sx * sx AS BIGINT) AS num,
       |  CAST((2 * m * (2 * sxy_half) - sx * sx) * 1000000
       |    // (2 * m * sxx - sx * sx) AS BIGINT) AS assortativity_ppm
       |FROM em, dm""".stripMargin

  // -------------------------------------------------------------- q442

  /** q442: clustering — triangles via the a<b<c two-hop join on the
    * co≥2 edge set; per-node c_i_ppm = 3-way exploded triangle counts
    * ·10⁶ div C(deg,2) (nodes with deg < 2 excluded — no closable
    * wedge); avg_local_c_ppm = Σ c_i_ppm div n (truncated per node,
    * a stated convention); transitivity_ppm = 3·tri·10⁶ div wedges.
    */
  def q442_clustering_coefficient(s: SparkSession, dir: String): DataFrame = {
    val e = CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 2)
      .select(col("part_a").as("u"), col("part_b").as("v"))
    val tri = e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"), "left_semi")
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val local = deg.filter(col("deg") >= 2)
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("t"), lit(0L)).as("t"))
      .select(expr("t * 2 * 1000000 div (deg * (deg - 1))").as("c_ppm"),
        expr("deg * (deg - 1) div 2").as("wedges"), col("t"))
    local.agg(count(lit(1)).as("n_nodes"),
        sum(col("t")).as("t3"), sum(col("wedges")).as("w"),
        sum(col("c_ppm")).as("csum"))
      .select(col("n_nodes"),
        expr("t3 div 3").as("n_triangles"),
        col("w").as("n_wedges"),
        expr("csum div n_nodes").as("avg_local_c_ppm"),
        expr("t3 * 1000000 div w").as("transitivity_ppm"))
  }

  val q442Sql: String =
    s"""WITH $coEdgesSql,
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM e e1 JOIN e e2 ON e1.v = e2.u
       |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.u = e1.u AND e3.v = e2.v)
       |), per_node AS (
       |  SELECT node, count(*) AS t FROM (
       |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri
       |  ) GROUP BY node
       |), deg AS (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT u AS node FROM e UNION ALL SELECT v FROM e
       |  ) GROUP BY node
       |), local AS (
       |  SELECT coalesce(p.t, 0) AS t, d.deg,
       |    coalesce(p.t, 0) * 2 * 1000000 // (d.deg * (d.deg - 1)) AS c_ppm,
       |    d.deg * (d.deg - 1) // 2 AS wedges
       |  FROM deg d LEFT JOIN per_node p ON p.node = d.node
       |  WHERE d.deg >= 2
       |)
       |SELECT count(*) AS n_nodes,
       |  CAST(sum(t) AS BIGINT) // 3 AS n_triangles,
       |  CAST(sum(wedges) AS BIGINT) AS n_wedges,
       |  CAST(sum(c_ppm) AS BIGINT) // count(*) AS avg_local_c_ppm,
       |  CAST(sum(t) AS BIGINT) * 1000000 // CAST(sum(wedges) AS BIGINT)
       |    AS transitivity_ppm
       |FROM local""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q440_lag1_autocorrelation", q440_lag1_autocorrelation _, q440Sql),
    Query("q441_degree_assortativity", q441_degree_assortativity _, q441Sql),
    Query("q442_clustering_coefficient", q442_clustering_coefficient _, q442Sql)
  )
}
