package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 38: assortment overlap, vocabulary growth, and
  * fabrication signals — exact-integer, DuckDB-oracle-gated.
  *
  *  - q243: segment assortment overlap — which market segments buy the
  *    same parts.
  *  - q244: Heaps'-law curve — vocabulary growth at corpus prefixes.
  *  - q245: round-number bias — the fabricated-amounts screen.
  */
object ExtensionQueries50 extends QueryGroup {

  // --------------------------------------------------------------- q243

  /** q243: segment assortment overlap — for each market-segment pair,
    * the exact Jaccard of their purchased-part sets in ppm. High
    * overlap means shared assortment (cross-merchandising works); low
    * overlap means segment-exclusive demand. Segment part-sets come
    * from one orders⋈lineitem pass.
    *
    * Scale shape: the (segment, part) dedup is the only big exchange;
    * pair intersections join that frame to itself part-co-partitioned;
    * segment sizes broadcast; the full pair grid materializes (the
    * q232/q240 zero-cell discipline) so disjoint segments report 0.
    */
  def q243_segment_assortment(s: SparkSession, dir: String): DataFrame = {
    val sp = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("c_mktsegment").as("segment"), col("l_partkey").as("part"))
      .distinct()
    val sizes = sp.groupBy(col("segment")).agg(count(lit(1)).as("n"))
    val inter = sp.as("a").join(sp.as("b"),
        col("a.part") === col("b.part") &&
          col("a.segment") < col("b.segment"))
      .groupBy(col("a.segment").as("seg_a"), col("b.segment").as("seg_b"))
      .agg(count(lit(1)).as("nb"))
    // |segments| is a category constant (5 in TPC-H at every SF) —
    // broadcast declares the bound the plan can't prove (PlanGate)
    val grid = sizes.select(col("segment").as("seg_a"), col("n").as("na"))
      .join(broadcast(sizes.select(col("segment").as("seg_b"), col("n").as("nb2"))),
        col("seg_a") < col("seg_b"))
    grid.join(inter, Seq("seg_a", "seg_b"), "left")
      .withColumn("both", coalesce(col("nb"), lit(0L)))
      .select(col("seg_a"), col("seg_b"), col("na"), col("nb2").as("nb"),
        col("both"),
        expr("both * 1000000 div (na + nb2 - both)").as("jaccard_ppm"))
      .orderBy(col("seg_a"), col("seg_b"))
  }

  val q243Sql: String =
    """WITH sp AS (
      |  SELECT DISTINCT c_mktsegment AS segment, l_partkey AS part
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |), sz AS (
      |  SELECT segment, count(*) AS n FROM sp GROUP BY segment
      |), i AS (
      |  SELECT a.segment AS seg_a, b.segment AS seg_b, count(*) AS nb
      |  FROM sp a JOIN sp b
      |    ON a.part = b.part AND a.segment < b.segment
      |  GROUP BY a.segment, b.segment
      |)
      |SELECT sa.segment AS seg_a, sb.segment AS seg_b,
      |  sa.n AS na, sb.n AS nb, CAST(COALESCE(i.nb, 0) AS BIGINT) AS both,
      |  CAST(COALESCE(i.nb, 0) * 1000000
      |    // (sa.n + sb.n - COALESCE(i.nb, 0)) AS BIGINT) AS jaccard_ppm
      |FROM sz sa JOIN sz sb ON sa.segment < sb.segment
      |LEFT JOIN i ON i.seg_a = sa.segment AND i.seg_b = sb.segment
      |ORDER BY seg_a, seg_b""".stripMargin

  // --------------------------------------------------------------- q244

  /** q244: Heaps'-law vocabulary growth — distinct whitespace types
    * seen after the first N documents (doc_id order) for N ∈ {100, 200,
    * 400}, plus tokens seen, so the types-vs-tokens curve is read
    * directly. The empirical answer to "does more data still buy new
    * vocabulary" — the saturation signal behind q184's coverage and
    * q195's TTR.
    *
    * Scale shape: each token's FIRST document is one token-keyed min
    * fold; each checkpoint N then needs only the first-occurrence
    * frame (vocab-sized) and per-doc token counts (doc-sized), both
    * conditional sums against the 3-row broadcast — the corpus is
    * scanned once.
    */
  def q244_heaps_curve(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val firstDoc = toks.groupBy(col("tok"))
      .agg(min(col("doc_id")).as("first_doc"))
    val docTokens = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"))
    val ns = s.createDataFrame(Seq(Tuple1(100L), Tuple1(200L), Tuple1(400L)))
      .toDF("n_docs")
    val types = firstDoc.crossJoin(broadcast(ns))
      .groupBy(col("n_docs"))
      .agg(sum(when(col("first_doc") <= col("n_docs"), 1L).otherwise(0L))
        .as("n_types"))
    val tokens = docTokens.crossJoin(broadcast(ns))
      .groupBy(col("n_docs"))
      .agg(sum(when(col("doc_id") <= col("n_docs"), col("n_toks"))
        .otherwise(0L)).as("n_tokens"))
    types.join(tokens, "n_docs")
      .select(col("n_docs"), col("n_tokens"), col("n_types"),
        expr("n_types * 1000000 div n_tokens").as("type_token_ppm"))
      .orderBy(col("n_docs"))
  }

  val q244Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), fd AS (
      |  SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
      |), dt AS (
      |  SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id
      |), ns AS (SELECT CAST(unnest([100, 200, 400]) AS BIGINT) AS n_docs
      |), ty AS (
      |  SELECT n_docs,
      |    CAST(sum(CASE WHEN first_doc <= n_docs THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_types
      |  FROM fd, ns GROUP BY n_docs
      |), tk AS (
      |  SELECT n_docs,
      |    CAST(sum(CASE WHEN doc_id <= n_docs THEN n_toks ELSE 0 END)
      |      AS BIGINT) AS n_tokens
      |  FROM dt, ns GROUP BY n_docs
      |)
      |SELECT ty.n_docs, n_tokens, n_types,
      |  CAST(n_types * 1000000 // n_tokens AS BIGINT) AS type_token_ppm
      |FROM ty JOIN tk ON ty.n_docs = tk.n_docs
      |ORDER BY ty.n_docs""".stripMargin

  // --------------------------------------------------------------- q245

  /** q245: round-number bias — of purchase amounts, the share landing
    * on exact dollars (cents ≡ 0 mod 100) and on exact ten-dollar
    * marks, against the 1% / 0.1% uniform-cents expectation, flagged
    * when observed exceeds 5× expected (cross-multiplied: `obs·100 >
    * 5·n` for dollars). Humans fabricate round numbers; organic prices
    * don't — the forensic screen beside q221's duplicate pairs and
    * q218's behavioral flags.
    *
    * Scale shape: one purchases pass, two conditional sums, a 1-row
    * verdict projection.
    */
  def q245_round_number_bias(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(round(col("value") * 100).cast("long").as("cents"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cents") % 100 === 0, 1L).otherwise(0L))
          .as("n_round_dollar"),
        sum(when(col("cents") % 1000 === 0, 1L).otherwise(0L))
          .as("n_round_ten"))
      .select(col("n"), col("n_round_dollar"), col("n_round_ten"),
        expr("n_round_dollar * 1000000 div n").as("dollar_ppm"),
        (col("n_round_dollar") * 100 > col("n") * 5).as("dollar_biased"),
        (col("n_round_ten") * 1000 > col("n") * 5).as("ten_biased"))
  }

  val q245Sql: String =
    """WITH p AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT count(*) AS n,
      |  CAST(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_round_dollar,
      |  CAST(sum(CASE WHEN cents % 1000 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_round_ten,
      |  CAST(sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS dollar_ppm,
      |  sum(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END) * 100
      |    > count(*) * 5 AS dollar_biased,
      |  sum(CASE WHEN cents % 1000 = 0 THEN 1 ELSE 0 END) * 1000
      |    > count(*) * 5 AS ten_biased
      |FROM p""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q243_segment_assortment", q243_segment_assortment _, q243Sql),
    Query("q244_heaps_curve", q244_heaps_curve _, q244Sql),
    Query("q245_round_number_bias", q245_round_number_bias _, q245Sql)
  )
}
