package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{CoPurchase, PrefixScan}
import QueryBlocks.spendByTreat

/** Prefix-duplicate mining, graph core wealth, and
  * the third ECDF distance.
  *
  *  - q426 prefix-duplicate pairs — documents that are a strict
  *    CHARACTER PREFIX of another document (the truncated-crawl /
  *    re-scrape artifact exact dedup misses and near-dup Jaccard
  *    over-matches): blocked on the first-6-token polyhash (measured
  *    max block 4 on this corpus), verified by substring equality,
  *    with prefix coverage in ppm.
  *  - q427 rich-club coefficient — φ(k) = 2·E_k/(N_k(N_k−1)) over the
  *    co-purchase graph for a degree-threshold grid: do the
  *    best-connected parts preferentially co-occur with each other?
  *    Complements q107 (k-core membership) with the density-among-
  *    the-rich readout, exact ppm.
  *  - q428 Wasserstein-1 (earth mover's) distance between BUILDING
  *    and non-BUILDING customer spend — W₁ = ∫|F_A − F_B| dx as the
  *    exact integer Σ gap·|cumA·n_B − cumB·n_A| over consecutive
  *    distinct values (the i→i+1 self-join replaces a partition-less
  *    lead()). Completes the ECDF-distance family: KS (max norm,
  *    q167), Cramér–von Mises (L², q385), W₁ (L¹, here).
  */
object ExtensionQueries113 extends QueryGroup {

  // -------------------------------------------------------------- q426

  /** q426: (prefix_doc, super_doc) pairs where prefix_doc's full text
    * is a leading substring of super_doc's. Canonical direction:
    * strictly fewer chars, or equal chars with the lower doc_id
    * (equal-text twins). Scale shape: equi-join on the 6-token block
    * key (near-singleton buckets), substring verify, never all-pairs.
    * Docs under 6 tokens are excluded on both engines.
    */
  def q426_prefix_dedup(s: SparkSession, dir: String): DataFrame = {
    // the first element of the 6-token ShingleHashes array IS the
    // polyhash of the first-6-token span — the same codegen machinery
    // (and the same phSql mirror) as the dedup tier
    val d = Tables.documents(s, dir)
      .filter(size(split(col("text"), " ")) >= 6)
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("len"),
        element_at(graft.ext.Dedup.shingleHashes(col("text"), 6), 1).as("k6"))
    d.as("a").join(d.as("b"),
        col("a.k6") === col("b.k6") &&
          (col("a.len") < col("b.len") ||
            (col("a.len") === col("b.len") && col("a.doc_id") < col("b.doc_id"))) &&
          col("b.text").startsWith(col("a.text")))
      .select(col("a.doc_id").as("prefix_doc"), col("b.doc_id").as("super_doc"),
        col("a.len").as("prefix_chars"), col("b.len").as("super_chars"))
      .withColumn("coverage_ppm", expr("prefix_chars * 1000000 div super_chars"))
      .orderBy(col("prefix_doc"), col("super_doc"))
  }

  val q426Sql: String = {
    val ph = QueryBlocks.phSql("array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ')")
    s"""WITH d AS (
       |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len, $ph AS k6
       |  FROM documents WHERE len(string_split(text, ' ')) >= 6
       |)
       |SELECT a.doc_id AS prefix_doc, b.doc_id AS super_doc,
       |  a.len AS prefix_chars, b.len AS super_chars,
       |  a.len * 1000000 // b.len AS coverage_ppm
       |FROM d a JOIN d b ON a.k6 = b.k6
       |  AND (a.len < b.len OR (a.len = b.len AND a.doc_id < b.doc_id))
       |  AND b.text[:length(a.text)] = a.text
       |ORDER BY prefix_doc, super_doc""".stripMargin
  }

  // -------------------------------------------------------------- q427

  /** q427: rich-club φ(k)·ppm for k ∈ {2, 4, 8, 16} over the ≥2-order
    * co-purchase graph (q118's edge rule). Scale shape: one pair
    * build + degree rollup; the 4-row threshold grid explodes over
    * the edge/node frames with broadcast degrees.
    */
  def q427_rich_club(s: SparkSession, dir: String): DataFrame = {
    val edges = CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 2)
      .select(col("part_a").as("u"), col("part_b").as("v"))
    val deg = edges.select(col("u").as("node")).unionAll(
        edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val ks = Seq(2L, 4L, 8L, 16L)
    val kdf = deg.sparkSession.range(0, 4).select(
      element_at(array(ks.map(lit(_)): _*), (col("id") + 1).cast("int")).as("k"))
    val nk = deg.crossJoin(broadcast(kdf))
      .filter(col("deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_k"))
    val ek = edges
      .join(broadcast(deg.withColumnRenamed("node", "u")
        .withColumnRenamed("deg", "du")), "u")
      .join(broadcast(deg.withColumnRenamed("node", "v")
        .withColumnRenamed("deg", "dv")), "v")
      .crossJoin(broadcast(kdf))
      .filter(col("du") > col("k") && col("dv") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("e_k"))
    kdf.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_k"), lit(0L)).as("n_k"),
        coalesce(col("e_k"), lit(0L)).as("e_k"))
      .withColumn("phi_ppm",
        expr("CASE WHEN n_k <= 1 THEN 0 ELSE 2 * e_k * 1000000 div (n_k * (n_k - 1)) END"))
      .orderBy(col("k"))
  }

  val q427Sql: String =
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2
      |), deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM e UNION ALL SELECT v FROM e
      |  ) GROUP BY node
      |), ks AS (SELECT unnest([2, 4, 8, 16]::BIGINT[]) AS k),
      |nk AS (
      |  SELECT ks.k, count(*) AS n_k FROM ks JOIN deg ON deg.deg > ks.k GROUP BY ks.k
      |), ek AS (
      |  SELECT ks.k, count(*) AS e_k
      |  FROM ks, e
      |  JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
      |  WHERE du.deg > ks.k AND dv.deg > ks.k
      |  GROUP BY ks.k
      |)
      |SELECT ks.k, coalesce(nk.n_k, 0) AS n_k, coalesce(ek.e_k, 0) AS e_k,
      |  CASE WHEN coalesce(nk.n_k, 0) <= 1 THEN 0
      |    ELSE 2 * coalesce(ek.e_k, 0) * 1000000 // (nk.n_k * (nk.n_k - 1)) END
      |    AS phi_ppm
      |FROM ks LEFT JOIN nk ON nk.k = ks.k LEFT JOIN ek ON ek.k = ks.k
      |ORDER BY ks.k""".stripMargin

  // -------------------------------------------------------------- q428

  /** q428: W₁ between the two spend ECDFs, exact:
    * W₁·n_A·n_B = Σᵢ (v_{i+1} − v_i)·|cumA_i·n_B − cumB_i·n_A| over
    * the ranked distinct-value frame (i joined to i+1 — an equi-join,
    * not a global lead window). Reported in milli-dollars.
    */
  def q428_wasserstein(s: SparkSession, dir: String): DataFrame = {
    val sp = spendByTreat(s, dir)
      .select(col("treat"), col("v"))
    val vals = sp.groupBy(col("v"))
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("cb"))
    val ranked = PrefixScan.prefixSumsInclusive(vals, 16, Seq(col("v")),
      Seq((lit(1L), "i"), (col("ca"), "cuma"), (col("cb"), "cumb")))
    val tot = sp.agg(sum(when(col("treat"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("treat"), 1L).otherwise(0L)).as("nb"))
    val x = ranked.select(col("i"), col("v"), col("cuma"), col("cumb"))
    val y = ranked.select((col("i") - 1).as("i"), col("v").as("v_next"))
    x.join(y, "i")
      .crossJoin(broadcast(tot))
      .select(((col("v_next") - col("v")) *
        abs(col("cuma") * col("nb") - col("cumb") * col("na"))).as("seg"),
        col("na"), col("nb"))
      .groupBy(col("na"), col("nb"))
      .agg(sum(expr("CAST(seg AS DECIMAL(38,0))")).as("area"))
      .select(col("na").as("n_building"), col("nb").as("n_rest"),
        expr("CAST(area * 1000 div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)")
          .as("w1_milli"))
  }

  val q428Sql: String =
    """WITH sp AS (
      |  SELECT (c.c_mktsegment = 'BUILDING') AS treat,
      |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS v
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY o.o_custkey, c.c_mktsegment
      |), vals AS (
      |  SELECT v,
      |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS cb
      |  FROM sp GROUP BY v
      |), ranked AS (
      |  SELECT v,
      |    row_number() OVER (ORDER BY v) AS i,
      |    sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb
      |  FROM vals
      |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), tot AS (
      |  SELECT CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN treat THEN 0 ELSE 1 END) AS BIGINT) AS nb
      |  FROM sp
      |), segs AS (
      |  SELECT CAST((y.v - x.v) * abs(x.cuma * tot.nb - x.cumb * tot.na) AS HUGEINT)
      |    AS seg, tot.na, tot.nb
      |  FROM ranked x JOIN ranked y ON y.i = x.i + 1 CROSS JOIN tot
      |)
      |SELECT na AS n_building, nb AS n_rest,
      |  CAST(sum(seg) * 1000 // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS w1_milli
      |FROM segs GROUP BY na, nb""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q426_prefix_dedup", q426_prefix_dedup _, q426Sql),
    Query("q427_rich_club", q427_rich_club _, q427Sql),
    Query("q428_wasserstein", q428_wasserstein _, q428Sql)
  )
}
