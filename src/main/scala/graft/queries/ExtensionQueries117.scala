package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.PrefixScan
import QueryBlocks.spendByTreat

/** The CART split primitive.
  *
  *  - q435 decision stump — the best single Gini split of customer
  *    spend predicting BUILDING membership: the inner loop of every
  *    tree learner (and of quality-classifier stumps over text
  *    features), done set-at-a-time. The scan over candidate
  *    thresholds is one prefix pass over the distinct-value class
  *    counts, and the weighted-Gini comparison is EXACT — the
  *    rational impurity f/(N·n_l·n_r) is minimized via the integer
  *    numerator f = (n_l²−pos_l²−neg_l²)·n_r + (n_r²−pos_r²−neg_r²)·n_l
  *    at the common denominator (n_l·n_r constant per candidate? no —
  *    f's denominator n_l·n_r varies, so the argmin compares
  *    f_i·n_lj·n_rj cross-multiplied... see below: we minimize the
  *    POINTWISE ppm value split_gini_ppm_i = f_i·10⁶ div (N·n_l·n_r),
  *    a truncated integer identical on both engines, tiebroken on the
  *    threshold — deterministic even where the true rationals tie).
  */
object ExtensionQueries117 extends QueryGroup {

  // -------------------------------------------------------------- q435

  /** q435: best-split report — threshold (left = spend ≤ t), sizes,
    * root and split Gini in ppm (truncated — the selection key, so
    * both engines pick identically), and the reduction. Scale shape:
    * distinct-value rollup + one PrefixScan + sort-limit-1; never a
    * per-split rescan.
    */
  def q435_decision_stump(s: SparkSession, dir: String): DataFrame = {
    val sp = spendByTreat(s, dir)
      .select(col("treat"), col("v"))
    val vals = sp.groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("treat"), 1L).otherwise(0L)).as("pos"))
    val cum = PrefixScan.prefixSumsInclusive(vals, 16, Seq(col("v")),
      Seq((col("cnt"), "n_l"), (col("pos"), "pos_l")))
    val tot = sp.agg(count(lit(1)).as("n"),
      sum(when(col("treat"), 1L).otherwise(0L)).as("p"))
    val scored = cum.crossJoin(broadcast(tot))
      .filter(col("n_l") < col("n")) // the all-left "split" is no split
      .select(col("v"), col("n_l"), (col("n") - col("n_l")).as("n_r"),
        col("pos_l"), (col("p") - col("pos_l")).as("pos_r"),
        col("n"), col("p"))
      .select(col("v"), col("n_l"), col("n_r"), col("n"), col("p"),
        expr("CAST((n_l * n_l - pos_l * pos_l - (n_l - pos_l) * (n_l - pos_l)) " +
          "AS DECIMAL(38,0)) * n_r + " +
          "CAST((n_r * n_r - pos_r * pos_r - (n_r - pos_r) * (n_r - pos_r)) " +
          "AS DECIMAL(38,0)) * n_l").as("f"))
      .select(col("v"), col("n_l"), col("n_r"), col("n"), col("p"),
        expr("CAST(f * 1000000 div (CAST(n AS DECIMAL(38,0)) * n_l * n_r) AS BIGINT)")
          .as("split_gini_ppm"))
    scored.orderBy(col("split_gini_ppm"), col("v")).limit(1)
      .select(col("v").as("split_dollars"), col("n_l").as("n_left"),
        col("n_r").as("n_right"),
        expr("CAST(CAST(n * n - p * p - (n - p) * (n - p) AS DECIMAL(38,0)) " +
          "* 1000000 div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("root_gini_ppm"),
        col("split_gini_ppm"))
      .withColumn("reduction_ppm", col("root_gini_ppm") - col("split_gini_ppm"))
  }

  val q435Sql: String =
    """WITH sp AS (
      |  SELECT (c.c_mktsegment = 'BUILDING') AS treat,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY o.o_custkey, c.c_mktsegment
      |), vals AS (
      |  SELECT v, count(*) AS cnt,
      |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS pos
      |  FROM sp GROUP BY v
      |), cum AS (
      |  SELECT v,
      |    CAST(sum(cnt) OVER w AS BIGINT) AS n_l,
      |    CAST(sum(pos) OVER w AS BIGINT) AS pos_l
      |  FROM vals
      |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), tot AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS p
      |  FROM sp
      |), scored AS (
      |  SELECT v, n_l, tot.n - n_l AS n_r, tot.n, tot.p,
      |    CAST(((CAST(n_l * n_l - pos_l * pos_l - (n_l - pos_l) * (n_l - pos_l)
      |        AS HUGEINT) * (tot.n - n_l) +
      |      CAST((tot.n - n_l) * (tot.n - n_l) - (tot.p - pos_l) * (tot.p - pos_l)
      |        - ((tot.n - n_l) - (tot.p - pos_l)) * ((tot.n - n_l) - (tot.p - pos_l))
      |        AS HUGEINT) * n_l) * 1000000
      |      // (CAST(tot.n AS HUGEINT) * n_l * (tot.n - n_l))) AS BIGINT)
      |      AS split_gini_ppm
      |  FROM cum CROSS JOIN tot WHERE n_l < tot.n
      |)
      |SELECT v AS split_dollars, n_l AS n_left, n_r AS n_right,
      |  CAST(CAST(n * n - p * p - (n - p) * (n - p) AS HUGEINT) * 1000000
      |    // (CAST(n AS HUGEINT) * n) AS BIGINT) AS root_gini_ppm,
      |  CAST(split_gini_ppm AS BIGINT) AS split_gini_ppm,
      |  CAST(CAST(n * n - p * p - (n - p) * (n - p) AS HUGEINT) * 1000000
      |    // (CAST(n AS HUGEINT) * n) - split_gini_ppm AS BIGINT) AS reduction_ppm
      |FROM scored ORDER BY split_gini_ppm, v LIMIT 1""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q435_decision_stump", q435_decision_stump _, q435Sql)
  )
}
