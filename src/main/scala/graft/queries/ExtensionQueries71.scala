package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-11 batch 9: deterministic corpus sampling + split assignment —
  * the training-data curation ops every 100 TB pipeline runs before a
  * single batch is drawn, spelled so the SAME row lands in the SAME
  * sample/split on any engine, any partitioning, any day:
  * no `rand()`, no `TABLESAMPLE`, no engine hash. The randomizer is a
  * TWO-ROUND MINSTD LCG (Park–Miller 1988 multiplier):
  * `h(id) = a·(48271·(id+1) mod M + 1) mod M`, `M = 2³¹−1` — pure
  * BIGINT arithmetic (products ≤ 10¹⁴, exact in any engine), uniform
  * enough for sampling, and trivially auditable. See [[minstd]] for
  * why one round is NOT a permutation on small-id corpora.
  *
  * Scale shape: every op here is a narrow projection + filter or a
  * single hash aggregation — no shuffle beyond the rollup; the split
  * column is computed per-row with no coordination (that's the point:
  * coordination-free reproducible assignment).
  */
object ExtensionQueries71 extends QueryGroup {

  /** Two-round MINSTD hash of a non-negative id column. ONE round is
    * not enough: for id < ~44 000 the product 48271·(id+1) never wraps
    * mod 2³¹−1, so ordering by it is ordering by id and its low bits
    * cycle systematically — the second multiplication wraps thousands
    * of times and genuinely scrambles. Still pure BIGINT arithmetic
    * (second product ≤ 48271·2³¹ ≈ 10¹⁴ ≪ 2⁶³ — exact in any engine).
    */
  private[queries] def minstd(id: Column, a: Long = 48271L): Column =
    (lit(a) * ((lit(48271L) * (id + 1L)) % 2147483647L + 1L)) % 2147483647L

  private[queries] def minstdSqlFor(idExpr: String, a: Long = 48271L): String =
    s"($a * (((48271 * ($idExpr + 1)) % 2147483647) + 1)) % 2147483647"

  // --------------------------------------------------------------- q305

  /** q305: per-language stratified 1-in-8 sample. The gate hashes the
    * sampled POPULATION, not just its size: per lang, count, n_chars
    * sum, and an id checksum (sum of sampled doc_ids) — a single
    * differing member breaks the row.
    */
  def q305_stratified_sample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .where(minstd(col("doc_id")) % 8 === 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).as("chars_sum"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("lang"))

  val q305Sql: String = {
    val h = minstdSqlFor("doc_id")
    s"""SELECT lang, count(*) AS n_sampled,
       |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
       |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
       |FROM documents WHERE $h % 8 = 0
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------------------- q306

  /** q306: 80/10/10 train/val/test assignment from the same hash —
    * decile 0-7 train, 8 val, 9 test. Output: per (split, lang) count
    * + id checksum. Coverage and disjointness are structural (every
    * row maps to exactly one decile), so the mirror certifies the
    * ASSIGNMENT, membership by membership.
    */
  def q306_train_test_split(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("split",
        when(minstd(col("doc_id")) % 10 < 8, "train")
          .when(minstd(col("doc_id")) % 10 === 8, "val")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("split"), col("lang"))

  val q306Sql: String = {
    val h = minstdSqlFor("doc_id")
    s"""SELECT CASE WHEN $h % 10 < 8 THEN 'train'
       |            WHEN $h % 10 = 8 THEN 'val' ELSE 'test' END AS split,
       |  lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
       |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin
  }

  // --------------------------------------------------------------- q307

  /** q307: leakage-safe GROUP-aware split — every document of one
    * source lands in the same split (near-duplicates and shared
    * provenance must never straddle train/test). The group key is the
    * source's min doc_id (deterministic numeric representative, one
    * broadcast-size aggregate), hashed with the same LCG; docs inherit
    * their source's split through a broadcast join. Output per split:
    * n_sources, n_docs, chars_sum — plus the structural invariant
    * (no source in two splits) pinned in the spec.
    */
  def q307_group_split(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val srcKey = d.groupBy(col("source"))
      .agg(min(col("doc_id")).as("src_key"))
      .withColumn("split",
        when(minstd(col("src_key")) % 10 < 8, "train")
          .when(minstd(col("src_key")) % 10 === 8, "val")
          .otherwise("test"))
    d.join(broadcast(srcKey.select(col("source"), col("split"))), Seq("source"))
      .groupBy(col("split"))
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_sum"))
      .orderBy(col("split"))
  }

  val q307Sql: String = {
    val h = minstdSqlFor("k.src_key")
    s"""WITH k AS (
       |  SELECT source, min(doc_id) AS src_key FROM documents GROUP BY source),
       |a AS (
       |  SELECT source, CASE WHEN $h % 10 < 8 THEN 'train'
       |    WHEN $h % 10 = 8 THEN 'val' ELSE 'test' END AS split FROM k)
       |SELECT a.split, count(DISTINCT d.source) AS n_sources,
       |  count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS chars_sum
       |FROM documents d JOIN a ON d.source = a.source
       |GROUP BY a.split ORDER BY a.split""".stripMargin
  }

  val entries: Seq[Query] = Seq(
    Query("q305_stratified_sample", q305_stratified_sample _, q305Sql),
    Query("q306_train_test_split", q306_train_test_split _, q306Sql),
    Query("q307_group_split", q307_group_split _, q307Sql)
  )
}
