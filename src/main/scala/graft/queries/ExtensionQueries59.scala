package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 47: surrogate-key safety, cross-source duplication,
  * and robust means — exact-integer, DuckDB-oracle-gated.
  *
  *  - q270: hash-key collision audit in a deliberately small key
  *    space.
  *  - q271: cluster provenance audit over the q42 clusters.
  *  - q272: 10%-trimmed mean per segment.
  */
object ExtensionQueries59 extends QueryGroup {

  // --------------------------------------------------------------- q270

  /** q270: surrogate-key collision audit — customer names hashed into a
    * 7-bit key space (the established `(h·31 + c) mod p` polynomial,
    * then mod 2⁷ — pigeonhole-guaranteed collisions at every SF, since the sequential name structure keeps even 2¹⁶ injective below 15k rows), with the exact distinct-key count, collided-key
    * count, colliding-row count, and the worst bucket. 7 bits is
    * deliberately small so the audit demonstrates against REAL
    * collisions — the same report at 64 bits is the pre-flight check
    * before any hash-keyed vault/dimension load.
    *
    * Scale shape: the hash is a projection (polynomial fold via the
    * repo's list-fold spelling in the mirror); one key-keyed count +
    * one 1-row fold.
    */
  def q270_hashkey_collisions(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.customer(s, dir)
      .select(graft.functions.PolyHash.polyHash(col("c_name"))
        .mod(128L).as("key"))
    val buckets = keyed.groupBy(col("key")).agg(count(lit(1)).as("n"))
    buckets.agg(count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_collided_keys"),
        sum(when(col("n") > 1, col("n")).otherwise(0L))
          .as("n_colliding_rows"),
        max(col("n")).as("worst_bucket"))
      .select(col("n_rows"), col("n_keys"), col("n_collided_keys"),
        col("n_colliding_rows"), col("worst_bucket"),
        expr("n_colliding_rows * 1000000 div n_rows").as("collision_ppm"))
  }

  val q270Sql: String = {
    val ph = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, length(c_name)+1), " +
      "hx_i -> CAST(ascii(substring(c_name, hx_i, 1)) AS BIGINT))), " +
      "(hx_a, hx_b) -> (hx_a*31 + hx_b) % 1000000007)"
    s"""WITH k AS (
       |  SELECT $ph % 128 AS key FROM customer
       |), b AS (
       |  SELECT key, count(*) AS n FROM k GROUP BY key
       |)
       |SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_keys,
       |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_collided_keys,
       |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
       |    AS n_colliding_rows,
       |  CAST(max(n) AS BIGINT) AS worst_bucket,
       |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) * 1000000
       |    // sum(n) AS BIGINT) AS collision_ppm
       |FROM b""".stripMargin
  }

  // --------------------------------------------------------------- q271

  /** q271: cluster provenance audit — every q42 cluster traced back to
    * its BASE documents (the doctored corpus offsets variants by
    * +100000/+200000, so `base = id mod 100000`) and their real
    * sources: members, distinct bases, distinct base sources, and the
    * sorted source CSV. `n_bases > 1` means the clustering merged
    * DIFFERENT original documents (true inter-document near-dups —
    * possibly cross-source syndication); `n_bases = 1` certifies the
    * cluster is one original plus its derived copies. The provenance
    * cut of q208's waterfall and q248's drift audit.
    *
    * Scale shape: cluster labels from the banded LSH (never
    * all-pairs); the base map is arithmetic; one base⋈documents join
    * (broadcast-size dims) and a rep-keyed fold.
    */
  def q271_cross_source_dups(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id").as("base"),
      col("source"))
    ExtensionQueries2.q42ClustersStaged(s, dir)
      .withColumn("base", col("id") % 100000L)
      .join(src, "base")
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("base")).as("n_bases"),
        countDistinct(col("source")).as("n_sources"),
        expr("array_join(array_sort(collect_set(source)), ',')")
          .as("sources"))
      .orderBy(col("rep"))
  }

  val q271Sql: String =
    s"""${ExtensionQueries2.q42ClusterCtes},
       |based AS (
       |  SELECT rep, id, id % 100000 AS base FROM lbl
       |)
       |SELECT rep, count(*) AS n_members,
       |  count(DISTINCT base) AS n_bases,
       |  count(DISTINCT source) AS n_sources,
       |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
       |FROM based JOIN documents ON base = doc_id
       |GROUP BY rep
       |ORDER BY rep""".stripMargin

  // --------------------------------------------------------------- q272

  /** q272: 10%-trimmed mean balance per market segment — the mean of
    * each segment's middle 80% by rank (drop ⌊n/10⌋ from each end,
    * exact), next to the raw mean and the robustness delta in ppm. A
    * handful of extreme balances can swing a raw mean; the trimmed one
    * says by exactly how much.
    *
    * Scale shape: segment-partitioned rank windows (parallel across
    * segments — the q194 discipline); both means are exact integer
    * divisions of conditional sums; ≤|segments|-row report.
    */
  def q272_trimmed_mean(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("segment"),
        round(col("c_acctbal") * 100).cast("long").as("cents"),
        col("c_custkey"))
    val w = Window.partitionBy(col("segment"))
      .orderBy(col("cents"), col("c_custkey"))
    val ranked = c.withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("nn",
        count(lit(1)).over(Window.partitionBy(col("segment"))).cast("long"))
      .withColumn("kept",
        col("rk") > expr("nn div 10") &&
          col("rk") <= col("nn") - expr("nn div 10"))
    ranked.groupBy(col("segment"))
      .agg(min(col("nn")).as("n"), sum(col("cents")).as("s_all"),
        sum(when(col("kept"), col("cents"))).as("s_trim"),
        sum(when(col("kept"), 1L)).as("n_kept"))
      .select(col("segment"), col("n"),
        expr("s_all div n").as("raw_mean_cents"),
        expr("s_trim div n_kept").as("trimmed_mean_cents"),
        expr("s_all div n - s_trim div n_kept").as("delta_cents"))
      .orderBy(col("segment"))
  }

  val q272Sql: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents, c_custkey
      |  FROM customer
      |), r AS (
      |  SELECT segment, cents,
      |    CAST(row_number() OVER (PARTITION BY segment
      |      ORDER BY cents, c_custkey) AS BIGINT) AS rk,
      |    CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS nn
      |  FROM c
      |)
      |SELECT segment, min(nn) AS n,
      |  CAST(sum(cents) // min(nn) AS BIGINT) AS raw_mean_cents,
      |  CAST(sum(CASE WHEN rk > nn // 10 AND rk <= nn - nn // 10
      |      THEN cents END)
      |    // sum(CASE WHEN rk > nn // 10 AND rk <= nn - nn // 10
      |      THEN 1 END) AS BIGINT) AS trimmed_mean_cents,
      |  CAST(sum(cents) // min(nn)
      |    - sum(CASE WHEN rk > nn // 10 AND rk <= nn - nn // 10
      |        THEN cents END)
      |      // sum(CASE WHEN rk > nn // 10 AND rk <= nn - nn // 10
      |        THEN 1 END) AS BIGINT) AS delta_cents
      |FROM r
      |GROUP BY segment
      |ORDER BY segment""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q270_hashkey_collisions", q270_hashkey_collisions _, q270Sql),
    Query("q271_cross_source_dups", q271_cross_source_dups _, q271Sql),
    Query("q272_trimmed_mean", q272_trimmed_mean _, q272Sql)
  )
}
