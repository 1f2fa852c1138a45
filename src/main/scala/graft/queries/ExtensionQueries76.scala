package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.TextAnalysis
import QueryBlocks.raterLabel

/** Annotation agreement, tokenizer economics, and the
  * Spark 4 parameterized-SQL surface.
  *
  *  - q320 Fleiss' kappa (Fleiss 1971): the MULTI-rater agreement
  *    statistic (q230's Cohen kappa is the 2-rater special case) over
  *    three deterministic pseudo-raters labeling every order — the
  *    labeling-quality gate a human-annotation pipeline runs before the
  *    labels train anything. Exact rational:
  *    κ = (3N·A − 2B) / (18N² − 2B) with A = Σ_i Σ_j n_ij² − 3N,
  *    B = Σ_j c_j², spelled in cross-multiplied integers; the final ppm
  *    scaling rides DECIMAL(38,0) (the products reach ~4·10¹⁹·10⁶ at
  *    sf1x — past BIGINT, far under the 10³⁸ ceiling; scale bound
  *    documented like q181's).
  *  - q321 tokenizer fertility: characters per 1000 tokens per
  *    language, under both the whitespace tokenizer and the GPT-2
  *    pre-tokenizer regex (cross-engine exact, the q96 contract) — the
  *    cost model that decides token budgets and sampling temperatures
  *    per language in a multilingual mixture.
  *  - q322 EXECUTE IMMEDIATE: Spark 4's dynamic parameterized SQL
  *    (named parameter markers bound via USING) — certified against
  *    the same query with literals inlined, so the binding layer
  *    itself is under the oracle gate.
  *
  * Determinism: the pseudo-raters hash with md5 (lowercase hex both
  * engines) parsed via the established conv/`0x` bridge; every ratio
  * is integer-scaled with truncating division.
  *
  * Scale shapes: q320 is one orders scan → a 3-way rater explode →
  * (item, label) map-combined counts → two tiny aggregates (per-item
  * squares fold into one global sum; the label margin is ≤ 3 rows);
  * q321 is a single scan with per-row codegen token counts into a
  * 5-row rollup; q322 plans identically to its literal twin (the
  * parameter binding is resolution-time).
  */
object ExtensionQueries76 extends QueryGroup {

  // --------------------------------------------------------------- q320

  def q320_fleiss_kappa(s: SparkSession, dir: String): DataFrame = {
    val votes = Tables.orders(s, dir).select(col("o_orderkey").as("item"),
        explode(array((1 to 3).map(r => raterLabel(r).cast("long")): _*))
          .as("label"))
    val nij = votes.groupBy(col("item"), col("label"))
      .agg(count(lit(1)).as("nij"))
    // A = Σ_i Σ_j n_ij² − 3N and N fold in ONE pass over the (i,j) cells;
    // B = Σ_j (Σ_i n_ij)² folds over the ≤3-row label margin
    val a = nij.agg(sum(col("nij") * col("nij")).as("sum_sq"),
      (countDistinct(col("item"))).as("n_items"))
    val b = nij.groupBy(col("label")).agg(sum(col("nij")).as("cj"))
      .agg(sum(col("cj") * col("cj")).as("b"))
    a.crossJoin(broadcast(b))
      .select(col("n_items"),
        (col("sum_sq") - lit(3) * col("n_items")).as("a"),
        col("b"))
      .select(col("n_items"),
        // P̄ = A/(6N), P̄e = B/(9N²), κ = (3NA − 2B)/(18N² − 2B); ppm
        // scaling through DECIMAL(38,0) — see the object scaladoc bound
        expr("CAST((CAST(a AS DECIMAL(38,0)) * 1000000) div CAST(6 * n_items AS DECIMAL(38,0)) AS BIGINT)")
          .as("pbar_ppm"),
        expr("CAST((CAST(b AS DECIMAL(38,0)) * 1000000) div CAST(9 * n_items * n_items AS DECIMAL(38,0)) AS BIGINT)")
          .as("pe_ppm"),
        expr("CAST((CAST(3 * n_items * a - 2 * b AS DECIMAL(38,0)) * 1000000) div CAST(18 * n_items * n_items - 2 * b AS DECIMAL(38,0)) AS BIGINT)")
          .as("kappa_ppm"))
  }

  val q320Sql: String =
    """WITH votes AS (
      |  SELECT o_orderkey AS item, r,
      |    CASE WHEN ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '-' ||
      |        CAST(r AS VARCHAR)), 1, 8))::BIGINT % 10 < 2
      |      THEN (o_orderkey % 3 + 1 +
      |        ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '-' ||
      |          CAST(r AS VARCHAR)), 1, 8))::BIGINT % 10 % 2) % 3
      |      ELSE o_orderkey % 3 END AS label
      |  FROM orders, (SELECT unnest(range(1, 4)) AS r)
      |), nij AS (
      |  SELECT item, label, count(*) AS nij FROM votes GROUP BY 1, 2
      |), a AS (
      |  SELECT CAST(sum(nij * nij) AS HUGEINT) AS sum_sq,
      |    CAST(count(DISTINCT item) AS HUGEINT) AS n_items
      |  FROM nij
      |), bb AS (
      |  SELECT CAST(sum(cj * cj) AS HUGEINT) AS b
      |  FROM (SELECT label, sum(nij) AS cj FROM nij GROUP BY label)
      |)
      |SELECT CAST(n_items AS BIGINT) AS n_items,
      |  CAST((sum_sq - 3 * n_items) * 1000000 // (6 * n_items) AS BIGINT)
      |    AS pbar_ppm,
      |  CAST(b * 1000000 // (9 * n_items * n_items) AS BIGINT) AS pe_ppm,
      |  CAST((3 * n_items * (sum_sq - 3 * n_items) - 2 * b) * 1000000
      |    // (18 * n_items * n_items - 2 * b) AS BIGINT) AS kappa_ppm
      |FROM a, bb""".stripMargin

  // --------------------------------------------------------------- q321

  /** q321: per-language tokenizer fertility — characters per 1000
    * tokens under the whitespace and GPT-2-regex tokenizers, plus the
    * regex/whitespace inflation per-mille. The number a mixture
    * designer multiplies into per-language token budgets.
    */
  def q321_token_fertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), length(col("text")).cast("long").as("n_ch"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws"),
        TextAnalysis.regexTokenCount(col("text")).cast("long").as("n_rx"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_ch")).as("chars_sum"),
        sum(col("n_ws")).as("ws_tokens"), sum(col("n_rx")).as("rx_tokens"))
      .select(col("lang"), col("n_docs"),
        expr("chars_sum * 1000 div ws_tokens").as("chars_per_1k_ws"),
        expr("chars_sum * 1000 div rx_tokens").as("chars_per_1k_rx"),
        expr("rx_tokens * 1000 div ws_tokens").as("rx_per_mille"))
      .orderBy(col("lang"))

  val q321Sql: String = {
    val rx = TextAnalysis.BpeSplitPattern.replace("'", "''")
    s"""WITH t AS (
       |  SELECT lang, CAST(length(text) AS BIGINT) AS n_ch,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
       |    CAST(len(regexp_extract_all(text, '$rx')) AS BIGINT) AS n_rx
       |  FROM documents
       |)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_ch) * 1000 // sum(n_ws) AS BIGINT) AS chars_per_1k_ws,
       |  CAST(sum(n_ch) * 1000 // sum(n_rx) AS BIGINT) AS chars_per_1k_rx,
       |  CAST(sum(n_rx) * 1000 // sum(n_ws) AS BIGINT) AS rx_per_mille
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------------------- q322

  /** q322: Spark 4 `EXECUTE IMMEDIATE` with named parameter markers —
    * the dynamic-SQL surface (SQL built at runtime, parameters bound
    * via USING, never string-spliced). The oracle is the identical
    * query with the literals inlined, so a binding bug (wrong
    * parameter, wrong coercion) reds the hash.
    */
  def q322_execute_immediate(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""EXECUTE IMMEDIATE
         |  'SELECT lang, count(*) AS n_docs,
         |     sum(n_chars) AS chars_sum
         |   FROM parquet.`$dir/documents.parquet`
         |   WHERE n_chars >= :lo AND n_chars < :hi
         |   GROUP BY lang ORDER BY lang'
         |  USING 200 AS lo, 700 AS hi""".stripMargin)

  val q322Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
      |FROM documents WHERE n_chars >= 200 AND n_chars < 700
      |GROUP BY lang ORDER BY lang""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q320_fleiss_kappa", q320_fleiss_kappa _, q320Sql),
    Query("q321_token_fertility", q321_token_fertility _, q321Sql),
    Query("q322_execute_immediate", q322_execute_immediate _, q322Sql)
  )
}
