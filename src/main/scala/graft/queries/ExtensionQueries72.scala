package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan

/** Round-11 batch 10: epoch ordering, sequence packing, and token
  * quotas — the three ops between a curated corpus and an actual
  * training run, all deterministic-by-arithmetic (batch 9's MINSTD
  * discipline) and all spelled WITHOUT a single-reducer global window:
  * cumulative sums ride [[PrefixScan.prefixSumsInclusive]] (two-phase
  * range-partitioned scan), top-k rides per-epoch TakeOrdered limits.
  */
object ExtensionQueries72 extends QueryGroup {

  /** Epoch-seeded MINSTD: epoch e swaps the SECOND-round multiplier
    * (48271 / 69621 / 16807 — the classic full-period choices), giving
    * a genuinely different permutation per epoch; an additive epoch
    * term would only shift all hashes by a constant and (mostly)
    * preserve the order. See [[ExtensionQueries71.minstd]].
    */
  private val epochA = Array(48271L, 69621L, 16807L)

  private def minstdEpoch(id: Column, e: Int): Column =
    ExtensionQueries71.minstd(id, epochA(e))

  // --------------------------------------------------------------- q308

  /** q308: the first 10 documents of each epoch's shuffle order —
    * data-loader determinism made queryable (resume a crashed epoch at
    * the exact position, audit what any rank saw). Per epoch the head
    * is a distributed TakeOrdered (never a full sort); the rank column
    * is a window over the ≤30-row union (maxRows-bounded).
    */
  def q308_epoch_order(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val heads = (0 to 2).map { e =>
      val h = minstdEpoch(col("doc_id"), e)
      d.select(lit(e).as("epoch"), col("doc_id"), h.as("h"))
        .orderBy(col("h"), col("doc_id")).limit(10)
    }.reduce(_.unionByName(_))
    heads.withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("epoch")).orderBy(col("h"), col("doc_id"))))
      .select(col("epoch"), col("pos"), col("doc_id"), col("h"))
      .orderBy(col("epoch"), col("pos"))
  }

  val q308Sql: String =
    """WITH p AS (
      |  SELECT e, doc_id,
      |    (a * (((48271 * (doc_id + 1)) % 2147483647) + 1)) % 2147483647 AS h
      |  FROM documents CROSS JOIN (VALUES (0, 48271), (1, 69621),
      |    (2, 16807)) AS t(e, a)),
      |r AS (
      |  SELECT e, doc_id, h,
      |    row_number() OVER (PARTITION BY e ORDER BY h, doc_id) AS pos
      |  FROM p)
      |SELECT e AS epoch, CAST(pos AS INT) AS pos, doc_id, h
      |FROM r WHERE pos <= 10 ORDER BY epoch, pos""".stripMargin

  // --------------------------------------------------------------- q309

  /** q309: sequence packing — documents concatenate in doc_id order
    * into one token stream, chunked every 4096 chars; a document
    * belongs to the bin where it STARTS (`(cumsum_before) div 4096`).
    * The global cumulative sum is the two-phase PrefixScan, not a
    * window. Output: the docs-per-bin histogram + per-bucket char mass
    * — the packing-efficiency audit (how many sequences would a
    * context window of 4096 hold, how ragged is the fill).
    */
  def q309_sequence_packing(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val withSum = PrefixScan.prefixSumsInclusive(d, 32,
      Seq(col("doc_id")), Seq((col("n_chars"), "s_incl")))
    withSum
      .withColumn("bin", expr("(s_incl - n_chars) div 4096L"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("docs_in_bin"), sum(col("n_chars")).as("chars_in_bin"))
      .groupBy(col("docs_in_bin"))
      .agg(count(lit(1)).as("n_bins"), sum(col("chars_in_bin")).as("chars_sum"))
      .orderBy(col("docs_in_bin"))
  }

  val q309Sql: String =
    """WITH c AS (
      |  SELECT doc_id, n_chars,
      |    sum(n_chars) OVER (ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS s_incl
      |  FROM documents),
      |b AS (
      |  SELECT (s_incl - n_chars) // 4096 AS bin, count(*) AS docs_in_bin,
      |    CAST(sum(n_chars) AS BIGINT) AS chars_in_bin
      |  FROM c GROUP BY 1)
      |SELECT docs_in_bin, count(*) AS n_bins,
      |  CAST(sum(chars_in_bin) AS BIGINT) AS chars_sum
      |FROM b GROUP BY 1 ORDER BY docs_in_bin""".stripMargin

  // --------------------------------------------------------------- q310

  /** q310: per-language token quota — the data-mixture op: each
    * language contributes documents in its epoch-0 shuffle order until
    * 10,000 chars, then stops (a doc that would CROSS the budget is
    * excluded: the filter is on the inclusive sum). Spelled shuffle-free
    * per group: ONE global PrefixScan over (lang, h, doc_id) order +
    * a broadcast 5-row preceding-language offset — never a 5-reducer
    * per-lang window.
    */
  def q310_token_quota(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        minstdEpoch(col("doc_id"), 0).as("h"))
    val withSum = PrefixScan.prefixSumsInclusive(d, 32,
      Seq(col("lang"), col("h"), col("doc_id")),
      Seq((col("n_chars"), "s_global")))
    val offsets = d.groupBy(col("lang")).agg(sum(col("n_chars")).as("tot"))
      .orderBy(col("lang"))
      .collect() // ≤ languages rows — bounded-collect discipline
    var run = 0L
    val offRows = offsets.map { r =>
      val o = (r.getString(0), run); run += r.getLong(1); o
    }.toSeq
    val spark = s
    import spark.implicits._
    val offDf = offRows.toDF("lang", "off")
    withSum.join(broadcast(offDf), Seq("lang"))
      .where(col("s_global") - col("off") <= 10000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("lang"))
  }

  val q310Sql: String =
    """WITH c AS (
      |  SELECT lang, doc_id, n_chars,
      |    sum(n_chars) OVER (PARTITION BY lang
      |      ORDER BY (48271 * (((48271 * (doc_id + 1)) % 2147483647) + 1))
      |        % 2147483647, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS s_in
      |  FROM documents)
      |SELECT lang, count(*) AS n_kept,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_kept,
      |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
      |FROM c WHERE s_in <= 10000 GROUP BY lang ORDER BY lang""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q308_epoch_order", q308_epoch_order _, q308Sql),
    Query("q309_sequence_packing", q309_sequence_packing _, q309Sql),
    Query("q310_token_quota", q310_token_quota _, q310Sql)
  )
}
