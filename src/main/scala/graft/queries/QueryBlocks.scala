package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The building blocks more than one query group is made of: the frames,
  * columns and constants two or more groups share, and the DuckDB SQL
  * fragments two or more oracle mirrors share. Each is defined here once
  * and imported by name, so a change to one reaches every query built on
  * it. Spark builders and SQL fragments stay separate definitions: the
  * fragments are the oracle's own text, compared against, not derived
  * from, the plans.
  *
  * The events-session cut lives in [[graft.ops.Sessions]] and the
  * co-purchase edge build in [[graft.ops.CoPurchase]].
  */
private[queries] object QueryBlocks {

  // ------------------------------------------------------ customer spend

  /** Per-customer spend `(o_custkey, v)` in whole dollars: order totals
    * summed in exact cents, then truncated (q387's magnitude convention).
    */
  def spend(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100").as("v"))

  /** [[spend]] with the customer's market segment as `seg`. */
  def spendBySegment(s: SparkSession, dir: String): DataFrame =
    withCustomer(s, dir, col("c_mktsegment").as("seg"))

  /** [[spend]] with `treat`: whether the customer is in the BUILDING
    * segment, the treatment group of the two-sample tests.
    */
  def spendByTreat(s: SparkSession, dir: String): DataFrame =
    withCustomer(s, dir, (col("c_mktsegment") === "BUILDING").as("treat"))

  /** [[spend]] joined to one label column of the broadcast customer table;
    * the caller projects what it keeps.
    */
  private def withCustomer(s: SparkSession, dir: String, label: Column): DataFrame =
    spend(s, dir)
      .join(broadcast(Tables.customer(s, dir).select(col("c_custkey"), label)),
        col("o_custkey") === col("c_custkey"))

  // -------------------------------------------------- daily event series

  /** Daily event counts `(day, n_ev)` keyed by epoch day (ts is canonical
    * long nanos).
    */
  def daily(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(expr("ts div 1000 div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_ev"))

  /** [[daily]]'s mirror. */
  val DailySql =
    "SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n_ev FROM events GROUP BY 1"

  // --------------------------------------------------- documents corpus

  /** The 10-word English function-word list the language scores count — a
    * crude lang-ID on purpose: calibration is interesting when the
    * classifier is imperfect.
    */
  val FuncWords = Seq("the", "of", "and", "to", "in", "a", "is", "that", "it", "for")

  /** 3-word shingles `(doc_id, sh)` of the documents table: q109's element
    * sets, used by the overlap and Jaccard set joins.
    */
  def shingles3(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(s, dir)
      .filter(size(toks) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(toks) - 3),
          i => array_join(slice(toks, i + 1, lit(3)), " "))).as("sh"))
  }

  /** [[shingles3]]'s mirror: the `tok(id, tok)` CTE of distinct shingles. */
  val tokCte: String = {
    val toks = "string_split(text, ' ')"
    s"""tok AS (
       |  SELECT DISTINCT doc_id AS id,
       |    unnest(list_transform(range(1, len($toks) - 1),
       |      sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + 2), ' '))) AS tok
       |  FROM documents WHERE len($toks) >= 3
       |)""".stripMargin
  }

  /** The containment detector's floor: |A∩B| ≥ 20 shared 3-shingles. */
  val MinOverlap = 20

  /** The near-duplicate Jaccard threshold, t = 0.6 in exact ppm. */
  val JaccPpm = 600000L

  // ------------------------------------------------------- orders, time

  /** The three pseudo-raters: rater r's label for order i starts from
    * base = i % 3 and flips to a neighboring category when the (i, r)
    * hash says so (~20% of votes) — enough disagreement that agreement
    * statistics sit strictly between 0 and 1, deterministic in both
    * engines.
    */
  def raterLabel(r: Int): Column = {
    val h = expr(
      s"conv(substring(md5(concat(cast(o_orderkey as string), '-', '$r')), 1, 8), 16, 10)"
    ).cast("long") % 10
    when(h < 2, (col("o_orderkey") % 3 + 1 + h % 2) % 3)
      .otherwise(col("o_orderkey") % 3)
  }

  val NsPerMin = 60L * 1000000000L

  /** floor(x·2²⁰) — exact in IEEE arithmetic (q165's quantization). */
  val Q20 = 1048576L

  // -------------------------------------------------- oracle fragments

  /** DuckDB polyhash mirror over an arbitrary string SQL expression. */
  def phSql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($e)+1), ch_i -> CAST(ascii(substring($e, ch_i, 1)) AS BIGINT))), " +
      s"(ph_a, ph_b) -> (ph_a*31 + ph_b) % 1000000007)"

  /** In-order double dot product of two list expressions, each element cast
    * to DOUBLE first (float embeddings).
    */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, len($a)+1), dp_i -> CAST($a[dp_i] AS DOUBLE) * CAST($b[dp_i] AS DOUBLE))), " +
      s"(dp_x, dp_y) -> dp_x + dp_y)"

  /** [[dotSql]] over lists that are already DOUBLE[]. */
  def dotSqlDoubles(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, len($a)+1), dp_i -> $a[dp_i] * $b[dp_i])), " +
      s"(dp_x, dp_y) -> dp_x + dp_y)"

  /** In-order squared L2 distance of two list expressions, elements cast
    * to DOUBLE.
    */
  def l2Sql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, len($a)+1), rr_i -> " +
      s"(CAST($a[rr_i] AS DOUBLE) - CAST($b[rr_i] AS DOUBLE)) * " +
      s"(CAST($a[rr_i] AS DOUBLE) - CAST($b[rr_i] AS DOUBLE)))), " +
      s"(rr_x, rr_y) -> rr_x + rr_y)"

  /** Squared L2 distance from DOUBLE[] `v` to the centroid column `cv`. */
  def centroidDistSql(v: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, len($v)+1), dq_i -> ($v[dq_i] - cv[dq_i]) * ($v[dq_i] - cv[dq_i]))), " +
      s"(dq_x, dq_y) -> dq_x + dq_y)"

  /** Squared L2 distance from sub-vector `miExpr` (width `sd`) of DOUBLE[]
    * `v` to the product-quantizer codeword column `bv`.
    */
  def subDistSql(v: String, miExpr: String, sd: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, $sd + 1), pq_j -> " +
      s"($v[$miExpr * $sd + pq_j] - bv[pq_j]) * ($v[$miExpr * $sd + pq_j] - bv[pq_j]))), " +
      s"(pq_x, pq_y) -> pq_x + pq_y)"
}
