package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 32: ML-infra splits, leakage-free encoding, kNN-graph
  * quality — exact-integer, DuckDB-oracle-gated.
  *
  *  - q225: group-k-fold leakage audit — event-level folds leak users,
  *    group folds do not; both counted exactly.
  *  - q226: out-of-fold target encoding — the leakage-free categorical
  *    encoder.
  *  - q227: mutual-kNN reciprocity — the neighborhood-quality metric of
  *    the kNN graph behind every embedding tier.
  */
object ExtensionQueries44 extends QueryGroup {

  // --------------------------------------------------------------- q225

  /** q225: group-k-fold leakage audit — assigns 5 CV folds two ways
    * (naive event-level `event_id % 5` vs group-aware `user_id % 5`)
    * and reports, per scheme: the number of users whose events straddle
    * more than one fold (the train/test LEAKAGE population — any
    * user-level signal memorized in one fold scores in another) and the
    * largest/smallest fold sizes. Group folds are structurally
    * leak-free (straddlers = 0, oracle-pinned); the naive count shows
    * what was at stake.
    *
    * Scale shape: both schemes ride ONE events pass (two fold columns
    * in the same projection); straddlers are a user-keyed
    * distinct-fold count; fold sizes a 5-row aggregate.
    */
  def q225_groupkfold_leakage(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), (col("event_id") % 5).as("ef"),
        (col("user_id") % 5).as("uf"))
    def audit(foldCol: String, name: String): DataFrame = {
      val straddle = e.groupBy(col("user_id"))
        .agg(countDistinct(col(foldCol)).as("nf"))
        .agg(sum(when(col("nf") > 1, 1L).otherwise(0L)).as("n_straddlers"))
      val sizes = e.groupBy(col(foldCol)).agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("min_fold"), max(col("n")).as("max_fold"))
      straddle.crossJoin(sizes).select(lit(name).as("scheme"),
        col("n_straddlers"), col("min_fold"), col("max_fold"))
    }
    audit("ef", "event_level").unionByName(audit("uf", "group_level"))
      .orderBy(col("scheme"))
  }

  val q225Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id % 5 AS ef, user_id % 5 AS uf FROM events
      |), se AS (
      |  SELECT CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_straddlers
      |  FROM (SELECT user_id, count(DISTINCT ef) AS nf FROM e
      |        GROUP BY user_id)
      |), su AS (
      |  SELECT CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_straddlers
      |  FROM (SELECT user_id, count(DISTINCT uf) AS nf FROM e
      |        GROUP BY user_id)
      |), fe AS (
      |  SELECT min(n) AS min_fold, max(n) AS max_fold
      |  FROM (SELECT ef, count(*) AS n FROM e GROUP BY ef)
      |), fu AS (
      |  SELECT min(n) AS min_fold, max(n) AS max_fold
      |  FROM (SELECT uf, count(*) AS n FROM e GROUP BY uf)
      |)
      |SELECT 'event_level' AS scheme, se.n_straddlers, fe.min_fold,
      |  fe.max_fold FROM se, fe
      |UNION ALL
      |SELECT 'group_level', su.n_straddlers, fu.min_fold, fu.max_fold
      |FROM su, fu
      |ORDER BY scheme""".stripMargin

  // --------------------------------------------------------------- q226

  /** q226: out-of-fold target encoding — encode each customer's nation
    * by the heavy-buyer rate (≥ 14 purchases, q181's outcome) of the
    * SAME nation's users in OTHER folds: `rate = (nation_hits −
    * fold_hits)·10⁶ div (nation_n − fold_n)`. The leakage-free
    * categorical encoder (a user's own outcome never feeds its own
    * feature); nations whose other-folds slice is empty emit −1.
    * Report: per (nation, fold), the encoding and the slice sizes.
    *
    * Scale shape: user outcomes are one events fold; the encoding
    * table is a (nation, fold)-keyed aggregate joined (broadcast)
    * against per-nation totals — the differences give out-of-fold
    * stats WITHOUT a fold×fold join.
    */
  def q226_target_encoding(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)) >= 14L, 1L).otherwise(0L).as("heavy"))
      .select(col("user_id"), (col("user_id") % 5).as("fold"),
        (col("user_id") % 7).as("nation"), col("heavy"))
    val cell = users.groupBy(col("nation"), col("fold"))
      .agg(count(lit(1)).as("fn"), sum(col("heavy")).as("fh"))
    val nat = users.groupBy(col("nation"))
      .agg(count(lit(1)).as("nn"), sum(col("heavy")).as("nh"))
    cell.join(broadcast(nat), "nation")
      .select(col("nation"), col("fold"),
        (col("nn") - col("fn")).as("oof_n"),
        (col("nh") - col("fh")).as("oof_hits"),
        when(col("nn") - col("fn") === 0L, lit(-1L))
          .otherwise(expr("(nh - fh) * 1000000 div (nn - fn)"))
          .as("encoding_ppm"))
      .orderBy(col("nation"), col("fold"))
  }

  val q226Sql: String =
    """WITH u AS (
      |  SELECT user_id, user_id % 5 AS fold, user_id % 7 AS nation,
      |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
      |      END) >= 14 THEN 1 ELSE 0 END AS heavy
      |  FROM events GROUP BY user_id
      |), cell AS (
      |  SELECT nation, fold, count(*) AS fn,
      |    CAST(sum(heavy) AS BIGINT) AS fh
      |  FROM u GROUP BY nation, fold
      |), nat AS (
      |  SELECT nation, count(*) AS nn, CAST(sum(heavy) AS BIGINT) AS nh
      |  FROM u GROUP BY nation
      |)
      |SELECT cell.nation, fold,
      |  CAST(nn - fn AS BIGINT) AS oof_n,
      |  CAST(nh - fh AS BIGINT) AS oof_hits,
      |  CASE WHEN nn - fn = 0 THEN -1
      |    ELSE CAST((nh - fh) * 1000000 // (nn - fn) AS BIGINT) END
      |    AS encoding_ppm
      |FROM cell JOIN nat ON cell.nation = nat.nation
      |ORDER BY cell.nation, fold""".stripMargin

  // --------------------------------------------------------------- q227

  /** q227: mutual-kNN reciprocity — build the 3-NN graph within each
    * label shard (the q37 cluster-sharded discipline: pairs only form
    * inside a shard, never across the corpus) and report, per label,
    * the share of directed kNN edges whose REVERSE edge also exists.
    * High reciprocity = compact neighborhoods (dedup/clustering will
    * behave); low = hubness (one vector is everyone's neighbor, its
    * neighbors are not each other's). The standard kNN-graph health
    * metric for every embedding tier downstream.
    *
    * Scale shape: in-shard pairs with the pinned-fold dot product;
    * keep-3 per vector is a vector-partitioned row_number
    * (WindowGroupLimit); reciprocity is a self-join of the EDGE list on
    * the reversed key — edge-sized, never pair-sized.
    */
  def q227_mutual_knn(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("label"), col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.label").as("label"), col("a.vec_id").as("src"),
        col("b.vec_id").as("dst"),
        graft.functions.VectorOps.dot(col("a.embedding"),
          col("b.embedding")).as("dp"))
    val w = Window.partitionBy(col("src")).orderBy(col("dp").desc, col("dst"))
    val edges = pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("label"), col("src"), col("dst"))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(1L).as("mutual"))
    edges.join(rev, Seq("src", "dst"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_edges"),
        sum(coalesce(col("mutual"), lit(0L))).as("n_mutual"))
      .select(col("label").cast("long").as("label"), col("n_edges"),
        col("n_mutual"),
        expr("n_mutual * 1000000 div n_edges").as("mutual_ppm"))
      .orderBy(col("label"))
  }

  val q227Sql: String =
    """WITH e AS (
      |  SELECT label, vec_id, list_transform(range(1, len(embedding)+1),
      |    cv_i -> CAST(embedding[cv_i] AS DOUBLE)) AS vec
      |  FROM embeddings
      |), p AS (
      |  SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(1, len(a.vec)+1),
      |        dp_i -> a.vec[dp_i] * b.vec[dp_i])),
      |      (dp_x, dp_y) -> dp_x + dp_y) AS dp
      |  FROM e a JOIN e b
      |    ON a.label = b.label AND a.vec_id <> b.vec_id
      |), edges AS (
      |  SELECT label, src, dst FROM (
      |    SELECT label, src, dst,
      |      row_number() OVER (PARTITION BY src ORDER BY dp DESC, dst)
      |        AS rk
      |    FROM p
      |  ) WHERE rk <= 3
      |)
      |SELECT CAST(a.label AS BIGINT) AS label, count(*) AS n_edges,
      |  CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_mutual,
      |  CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS mutual_ppm
      |FROM edges a
      |LEFT JOIN edges r ON a.src = r.dst AND a.dst = r.src
      |GROUP BY a.label
      |ORDER BY label""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q225_groupkfold_leakage", q225_groupkfold_leakage _, q225Sql),
    Query("q226_target_encoding", q226_target_encoding _, q226Sql),
    Query("q227_mutual_knn", q227_mutual_knn _, q227Sql)
  )
}
