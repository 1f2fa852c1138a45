package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.CoPurchase

/** Round-13 batch 18 (closer): association rules and factorial
  * effects.
  *
  *  - q405 association rules over co-purchased part pairs — support,
  *    confidence and LIFT in exact ppm (q80 counts co-occurrence;
  *    lift adds the independence normalization co·N/(n_a·n_b) that
  *    separates "popular with everything" from "actually associated").
  *    Directed rules a→b for pairs with co-support ≥ 3, top-200 by
  *    (lift, a, b) via sort+limit.
  *  - q406 2×2 factorial analysis — two hash-assigned binary factors
  *    over per-user spend: both main effects and the INTERACTION in
  *    exact milli (the DiD algebra applied to a factorial design,
  *    completing q181 → q375 → q384 → q403). Null assignment ⇒ all
  *    three must read as noise; the spec pins it.
  */
object ExtensionQueries105 extends QueryGroup {

  // --------------------------------------------------------------- q405

  /** q405: directed rules a→b among order-basket part pairs (co ≥ 3):
    * support/confidence/lift in ppm. Scale shape: q106's distinct +
    * self-join pair build, per-part counts broadcast back, the 1-row
    * basket total broadcast; top-200 via TakeOrderedAndProject.
    */
  def q405_association_rules(s: SparkSession, dir: String): DataFrame = {
    val lp = CoPurchase.baskets(Tables.lineitem(s, dir))
    val nBaskets = lp.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val itemN = lp.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
    // the support filter commutes with the flip, so it runs on the half
    val pairs = CoPurchase.symmetric(CoPurchase.pairs(lp, minCo = 3)
      .select(col("part_a").as("ante"), col("part_b").as("cons"), col("n_co").as("co")))
    val scored = pairs
      .join(broadcast(itemN.select(col("l_partkey").as("ante"), col("n_item").as("n_a"))), "ante")
      .join(broadcast(itemN.select(col("l_partkey").as("cons"), col("n_item").as("n_b"))), "cons")
      .crossJoin(broadcast(nBaskets))
      .select(col("ante"), col("cons"), col("co"), col("n_a"), col("n_b"),
        expr("co * 1000000 div n_baskets").as("support_ppm"),
        expr("co * 1000000 div n_a").as("confidence_ppm"),
        expr("CAST(CAST(co AS DECIMAL(38,0)) * n_baskets * 1000000 " +
          "div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("lift_ppm"))
    scored.orderBy(col("lift_ppm").desc, col("ante"), col("cons")).limit(200)
      .withColumn("rank", row_number().over(graft.ops.Ranks.bounded(
        col("ante"), col("lift_ppm").desc, col("ante"), col("cons"))).cast("long"))
      .select(col("rank"), col("ante"), col("cons"), col("co"),
        col("support_ppm"), col("confidence_ppm"), col("lift_ppm"))
      .orderBy(col("rank"))
  }

  val q405Sql: String =
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lp),
      |items AS (SELECT l_partkey, count(*) AS n_item FROM lp GROUP BY 1),
      |pairs AS (
      |  SELECT a.l_partkey AS ante, b.l_partkey AS cons, count(*) AS co
      |  FROM lp a JOIN lp b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 3
      |), scored AS (
      |  SELECT p.ante, p.cons, p.co,
      |    CAST(p.co * 1000000 // nb.n_baskets AS BIGINT) AS support_ppm,
      |    CAST(p.co * 1000000 // ia.n_item AS BIGINT) AS confidence_ppm,
      |    CAST(CAST(p.co AS HUGEINT) * nb.n_baskets * 1000000
      |      // (CAST(ia.n_item AS HUGEINT) * ib.n_item) AS BIGINT) AS lift_ppm
      |  FROM pairs p
      |  JOIN items ia ON ia.l_partkey = p.ante
      |  JOIN items ib ON ib.l_partkey = p.cons, nb
      |)
      |SELECT CAST(row_number() OVER (ORDER BY lift_ppm DESC, ante, cons) AS BIGINT)
      |    AS rank,
      |  ante, cons, co, support_ppm, confidence_ppm, lift_ppm
      |FROM scored
      |QUALIFY rank <= 200
      |ORDER BY rank""".stripMargin

  // --------------------------------------------------------------- q406

  /** q406: 2×2 factorial over per-user total spend (cents): factors
    * A = user_id % 2, B = (user_id div 2) % 2. Cell means in milli;
    * main effects = marginal mean differences, interaction =
    * (m11 − m10) − (m01 − m00). Scale shape: one per-user rollup, one
    * 4-cell fold, scalar algebra.
    */
  def q406_factorial_effects(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("spend"))
      .select((col("user_id") % 2).as("fa"),
        expr("(user_id div 2) % 2").as("fb"), col("spend"))
    def cell(a: Int, b: Int) = expr(
      s"sum(CASE WHEN fa = $a AND fb = $b THEN spend ELSE 0 END) * 1000 div " +
        s"sum(CASE WHEN fa = $a AND fb = $b THEN 1 ELSE 0 END)")
    u.agg(count(lit(1)).as("n_users"),
        cell(0, 0).as("m00"), cell(0, 1).as("m01"),
        cell(1, 0).as("m10"), cell(1, 1).as("m11"))
      .select(col("n_users"), col("m00"), col("m01"), col("m10"), col("m11"),
        expr("(m10 + m11 - m00 - m01) div 2").as("effect_a_milli"),
        expr("(m01 + m11 - m00 - m10) div 2").as("effect_b_milli"),
        expr("(m11 - m10) - (m01 - m00)").as("interaction_milli"))
  }

  val q406Sql: String =
    """WITH u AS (
      |  SELECT user_id % 2 AS fa, (user_id // 2) % 2 AS fb,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend
      |  FROM events GROUP BY user_id
      |), cells AS (
      |  SELECT count(*) AS n_users,
      |    CAST(sum(CASE WHEN fa = 0 AND fb = 0 THEN spend ELSE 0 END) * 1000
      |      // sum(CASE WHEN fa = 0 AND fb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m00,
      |    CAST(sum(CASE WHEN fa = 0 AND fb = 1 THEN spend ELSE 0 END) * 1000
      |      // sum(CASE WHEN fa = 0 AND fb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m01,
      |    CAST(sum(CASE WHEN fa = 1 AND fb = 0 THEN spend ELSE 0 END) * 1000
      |      // sum(CASE WHEN fa = 1 AND fb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m10,
      |    CAST(sum(CASE WHEN fa = 1 AND fb = 1 THEN spend ELSE 0 END) * 1000
      |      // sum(CASE WHEN fa = 1 AND fb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m11
      |  FROM u
      |)
      |SELECT n_users, m00, m01, m10, m11,
      |  (m10 + m11 - m00 - m01) // 2 AS effect_a_milli,
      |  (m01 + m11 - m00 - m10) // 2 AS effect_b_milli,
      |  (m11 - m10) - (m01 - m00) AS interaction_milli
      |FROM cells""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q405_association_rules", q405_association_rules _, q405Sql),
    Query("q406_factorial_effects", q406_factorial_effects _, q406Sql)
  )
}
