package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 39: supply risk, pricing consistency, and dedup
  * transitivity — exact-integer, DuckDB-oracle-gated.
  *
  *  - q246: supplier-diversity risk tiers — how much revenue rides on
  *    thinly-supplied parts.
  *  - q247: price dispersion per part — pricing-consistency audit.
  *  - q248: cluster transitivity drift — the weakest pairwise Jaccard
  *    inside each near-dup cluster.
  */
object ExtensionQueries51 extends QueryGroup {

  // --------------------------------------------------------------- q246

  /** q246: supplier-diversity risk tiers — parts bucketed by how many
    * distinct suppliers serve them (LOW < 10, MID 10-19, HIGH ≥ 20),
    * with part counts and the revenue riding on each tier; the LOW-tier
    * revenue is the procurement-risk number (fewer suppliers = less
    * resilience). Exact cents; tiers from one (part → distinct
    * supplier) fold.
    *
    * Scale shape: one lineitem pass feeds both the supplier-distinct
    * fold and the revenue fold (grouped once by part); the bucket
    * rollup is a 3-row aggregate.
    */
  def q246_single_source_risk(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    val total = parts.agg(sum(col("cents")).as("t"))
    parts
      .select(when(col("n_supp") >= 20, lit(3L))
        .when(col("n_supp") >= 10, lit(2L)).otherwise(lit(1L))
        .as("supp_bucket"), col("cents"))
      .groupBy(col("supp_bucket"))
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"))
      .crossJoin(broadcast(total))
      .select(col("supp_bucket"), col("n_parts"), col("cents"),
        expr("cents * 1000000 div t").as("revenue_share_ppm"))
      .orderBy(col("supp_bucket"))
  }

  val q246Sql: String =
    """WITH p AS (
      |  SELECT l_partkey, count(DISTINCT l_suppkey) AS n_supp,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM lineitem GROUP BY l_partkey
      |), t AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM p)
      |SELECT CAST(CASE WHEN n_supp >= 20 THEN 3
      |    WHEN n_supp >= 10 THEN 2 ELSE 1 END AS BIGINT) AS supp_bucket,
      |  count(*) AS n_parts, CAST(sum(cents) AS BIGINT) AS cents,
      |  CAST(sum(cents) * 1000000 // t AS BIGINT) AS revenue_share_ppm
      |FROM p, t
      |GROUP BY supp_bucket, t
      |ORDER BY supp_bucket""".stripMargin

  // --------------------------------------------------------------- q247

  /** q247: price dispersion per part — for parts with ≥ 5 order lines,
    * the spread `(max − min)·10⁶ div min` of the per-unit price in
    * exact ppm (unit price as integer micro-dollars per unit:
    * `cents·10⁴ div qty` — quantities are small integers so the
    * division is exact enough to be engine-identical, and the SAME
    * spelling runs on both engines). Top 20 by spread. The
    * pricing-consistency audit: the same part selling at wildly
    * different unit prices is either discounting policy or a data bug.
    *
    * Scale shape: one lineitem pass → part-keyed min/max fold;
    * TakeOrderedAndProject.
    */
  def q247_price_dispersion(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        expr("CAST(round(l_extendedprice * 100) AS LONG) * 10000 div " +
          "CAST(l_quantity AS LONG)").as("unit_micro"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"), min(col("unit_micro")).as("mn"),
        max(col("unit_micro")).as("mx"))
      .filter(col("n_lines") >= 5)
      .select(col("l_partkey"), col("n_lines"), col("mn"), col("mx"),
        expr("(mx - mn) * 1000000 div mn").as("spread_ppm"))
      .orderBy(col("spread_ppm").desc, col("l_partkey"))
      .limit(20)
  }

  val q247Sql: String =
    """WITH u AS (
      |  SELECT l_partkey,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) * 10000
      |      // CAST(l_quantity AS BIGINT) AS unit_micro
      |  FROM lineitem
      |), p AS (
      |  SELECT l_partkey, count(*) AS n_lines,
      |    CAST(min(unit_micro) AS BIGINT) AS mn,
      |    CAST(max(unit_micro) AS BIGINT) AS mx
      |  FROM u GROUP BY l_partkey
      |  HAVING count(*) >= 5
      |)
      |SELECT l_partkey, n_lines, mn, mx,
      |  CAST((mx - mn) * 1000000 // mn AS BIGINT) AS spread_ppm
      |FROM p
      |ORDER BY spread_ppm DESC, l_partkey
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q248

  /** q248: near-dup cluster transitivity drift — within each q42
    * cluster of ≥ 3 members, the WEAKEST pairwise 3-gram-shingle
    * Jaccard in ppm. Chained near-duplicates drift (A≈B≈C with A far
    * from C): min-label clustering is transitive even though similarity
    * is not, and this audit measures exactly how far each cluster has
    * stretched. Low minima argue for a tighter band scheme or
    * post-verification.
    *
    * Scale shape: shingle sets restrict to CLUSTER MEMBERS before any
    * join; the intersection join is (rep, shingle)-keyed with pair
    * fan-out bounded by cluster size²; per-pair Jaccard and the
    * cluster-min fold are cluster-keyed. Never corpus×corpus.
    */
  def q248_cluster_drift(s: SparkSession, dir: String): DataFrame = {
    val lbl = ExtensionQueries2.q42ClustersStaged(s, dir)
    val big = lbl.groupBy(col("rep")).agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= 3)
    val members = lbl.join(big, "rep")
    val sh = ExtensionQueries2.q42Corpus(s, dir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        explode(expr(
          """transform(sequence(0, size(split(text, ' ')) - 3),
            |  sh_i -> concat_ws(' ', slice(split(text, ' '), sh_i + 1, 3)))
            |""".stripMargin)).as("shingle"))
      .distinct()
      .join(members.select(col("id").as("doc_id"), col("rep")), "doc_id")
    val sizes = sh.groupBy(col("rep"), col("doc_id"))
      .agg(count(lit(1)).as("nsh"))
    val co = sh.as("a").join(sh.as("b"),
        col("a.rep") === col("b.rep") &&
          col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.rep").as("rep"), col("a.doc_id").as("id_a"),
        col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("nb"))
    val pairs = sizes.as("x").join(sizes.as("y"),
        col("x.rep") === col("y.rep") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.rep").as("rep"), col("x.doc_id").as("id_a"),
        col("y.doc_id").as("id_b"), col("x.nsh").as("sa"),
        col("y.nsh").as("sb"))
      .join(co, Seq("rep", "id_a", "id_b"), "left")
      .withColumn("both", coalesce(col("nb"), lit(0L)))
      .withColumn("j_ppm",
        expr("both * 1000000 div (sa + sb - both)"))
    pairs.groupBy(col("rep"))
      .agg(count(lit(1)).as("n_pairs"), min(col("j_ppm")).as("min_jaccard_ppm"),
        max(col("j_ppm")).as("max_jaccard_ppm"))
      .orderBy(col("rep"))
  }

  val q248Sql: String =
    s"""${ExtensionQueries2.q42ClusterCtes},
       |big AS (
       |  SELECT rep, count(*) AS sz FROM lbl GROUP BY rep HAVING count(*) >= 3
       |), mem AS (
       |  SELECT id, lbl.rep FROM lbl JOIN big ON lbl.rep = big.rep
       |), shs AS (
       |  SELECT DISTINCT doc_id, shingle, mem.rep FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, len(string_split(text,' ')) - 1),
       |        dr_i -> array_to_string(
       |          list_slice(string_split(text,' '), dr_i, dr_i + 2), ' ')))
       |        AS shingle
       |    FROM allv
       |  ) s JOIN mem ON s.doc_id = mem.id
       |), sz AS (
       |  SELECT rep, doc_id, count(*) AS nsh FROM shs
       |  GROUP BY rep, doc_id
       |), co AS (
       |  SELECT a.rep, a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nb
       |  FROM shs a JOIN shs b
       |    ON a.rep = b.rep AND a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY a.rep, a.doc_id, b.doc_id
       |), pairs AS (
       |  SELECT x.rep, x.doc_id AS id_a, y.doc_id AS id_b,
       |    CAST(COALESCE(nb, 0) * 1000000
       |      // (x.nsh + y.nsh - COALESCE(nb, 0)) AS BIGINT) AS j_ppm
       |  FROM sz x JOIN sz y ON x.rep = y.rep AND x.doc_id < y.doc_id
       |  LEFT JOIN co ON co.rep = x.rep AND co.id_a = x.doc_id
       |    AND co.id_b = y.doc_id
       |)
       |SELECT rep, count(*) AS n_pairs,
       |  CAST(min(j_ppm) AS BIGINT) AS min_jaccard_ppm,
       |  CAST(max(j_ppm) AS BIGINT) AS max_jaccard_ppm
       |FROM pairs
       |GROUP BY rep
       |ORDER BY rep""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q246_single_source_risk", q246_single_source_risk _, q246Sql),
    Query("q247_price_dispersion", q247_price_dispersion _, q247Sql),
    Query("q248_cluster_drift", q248_cluster_drift _, q248Sql)
  )
}
