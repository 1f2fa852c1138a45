package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{FpSafe, Tables}
import graft.ext.Similarity
import QueryBlocks.dotSql

/** Retrieval/ranking evaluation (SURVEY §7.4 —
  * similarity search needs its EVAL half: a top-k engine without
  * ranking metrics can't be tuned). On this corpus `label` is
  * independent of the embedding geometry, so the three metrics pin
  * the NULL baseline (P@10 ≈ 10%, silhouette just below zero) — the
  * spec asserts the exact math AND that null reading; a metric bug
  * inflating either direction fails the band.
  *
  *  - q355 nDCG@10 / MRR / P@10 over the brute-force cosine ranking
  *    (q30's machinery), relevance = label match. All metrics in exact
  *    integer micro/ppm domains: the log₂ discounts are a PINNED
  *    10-entry literal table (round(1e6/log₂(i+1))), not per-row FP
  *    logs — the q105 lesson (cross-engine log folds don't hash)
  *    applied to ranking.
  *  - q356 Kendall tau-b between the by-quantity and by-revenue part
  *    rankings — the exact O(n²)-pair rank-dependence complement to
  *    q198's Spearman (which needs no pair join but ignores ties).
  *    Bounded to a 100-part subset so the pair join is a broadcast;
  *    at corpus scale tau over a full table is sampled or bucketed.
  *  - q357 simplified silhouette per label cluster: a(i) = squared
  *    distance to own centroid, b(i) = min over other centroids, in
  *    exact integer milli-coordinates (centroids = integer mean of
  *    round(x·1e3)). The standard full silhouette is O(n²); the
  *    simplified form (per-point × centroids) is the one that scales
  *    — nlist centroids broadcast, one pass over the corpus.
  */
object ExtensionQueries88 extends QueryGroup {

  // --------------------------------------------------------------- q355

  /** round(1e6 / log₂(i+1)) for i = 1..10 — pinned, identical literals
    * on both engines, so DCG is a pure integer sum.
    */
  private val discMicro =
    Seq(1000000L, 630930L, 500000L, 430677L, 386853L, 356207L,
      333333L, 315465L, 301030L, 289065L)
  private val discPrefix = discMicro.scanLeft(0L)(_ + _).tail

  /** q355: per probe (vec_id < 10): relevant-in-pool, relevant-in-top-10,
    * first relevant rank, MRR (µ), DCG/IDCG (µ), nDCG (ppm), P@10 (ppm).
    * Scale shape: probes broadcast against the corpus (one pass), ranks
    * from a per-probe bounded window; the metric aggregation is one
    * map-combined shuffle on probe_id.
    */
  def q355_ndcg_mrr(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val labels = e.select(col("vec_id"), col("label").cast("long").as("lbl"))
    val poolSize = labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_lbl"))
    val top = Similarity.bruteForceTopK(e, "vec_id", "embedding", col("vec_id") < 10, 10)
    val wArr = discMicro.mkString("array(", "L,", "L)")
    val pArr = discPrefix.mkString("array(", "L,", "L)")
    val scored = top
      .join(labels.select(col("vec_id").as("probe_id"), col("lbl").as("probe_label")), "probe_id")
      .join(labels.select(col("vec_id").as("cand_id"), col("lbl").as("cand_label")), "cand_id")
      .withColumn("rel", when(col("cand_label") === col("probe_label"), 1L).otherwise(0L))
    scored.groupBy(col("probe_id"), col("probe_label"))
      .agg(
        sum(col("rel")).as("n_rel_top10"),
        coalesce(min(when(col("rel") === 1, col("rank"))), lit(0)).cast("long")
          .as("first_rel_rank"),
        sum(col("rel") * element_at(expr(wArr), col("rank"))).as("dcg_micro"))
      .join(broadcast(poolSize.withColumnRenamed("lbl", "probe_label")), "probe_label")
      .select(col("probe_id"), col("probe_label"),
        (col("n_lbl") - 1).as("n_rel_pool"),
        col("n_rel_top10"), col("first_rel_rank"),
        expr("CASE WHEN first_rel_rank = 0 THEN 0 ELSE 1000000 div first_rel_rank END")
          .cast("long").as("mrr_micro"),
        col("dcg_micro"),
        element_at(expr(pArr), greatest(least(col("n_lbl") - 1, lit(10)), lit(1)).cast("int"))
          .as("idcg_micro"))
      .withColumn("ndcg_ppm", expr("dcg_micro * 1000000 div idcg_micro"))
      .withColumn("p_at10_ppm", col("n_rel_top10") * 100000L)
      .orderBy(col("probe_id"))
  }

  val q355Sql: String = {
    val wLit = discMicro.mkString("[", ",", "]")
    val pLit = discPrefix.mkString("[", ",", "]")
    s"""WITH p AS (SELECT vec_id AS probe_id, CAST(label AS BIGINT) AS probe_label,
       |             embedding AS pv FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS cand_id, CAST(label AS BIGINT) AS cand_label,
       |        embedding AS cv FROM embeddings),
       |s AS (
       |  SELECT probe_id, probe_label, cand_id, cand_label,
       |    ${dotSql("pv", "cv")} / (sqrt(${dotSql("pv", "pv")}) * sqrt(${dotSql("cv", "cv")})) AS cos
       |  FROM p CROSS JOIN c WHERE probe_id <> cand_id
       |),
       |r AS (
       |  SELECT probe_id, probe_label, cand_label,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM s
       |),
       |pool AS (SELECT probe_id, count(*) AS n_rel_pool
       |         FROM p JOIN c ON c.cand_label = p.probe_label AND c.cand_id <> p.probe_id
       |         GROUP BY 1),
       |top AS (SELECT probe_id, probe_label, rank,
       |          CASE WHEN cand_label = probe_label THEN 1 ELSE 0 END AS rel
       |        FROM r WHERE rank <= 10),
       |agg AS (
       |  SELECT probe_id, probe_label,
       |    CAST(sum(rel) AS BIGINT) AS n_rel_top10,
       |    CAST(coalesce(min(CASE WHEN rel = 1 THEN rank END), 0) AS BIGINT)
       |      AS first_rel_rank,
       |    CAST(sum(rel * ($wLit)[rank]) AS BIGINT) AS dcg_micro
       |  FROM top GROUP BY 1, 2)
       |SELECT a.probe_id, a.probe_label,
       |  CAST(pool.n_rel_pool AS BIGINT) AS n_rel_pool,
       |  a.n_rel_top10, a.first_rel_rank,
       |  CAST(CASE WHEN a.first_rel_rank = 0 THEN 0
       |            ELSE 1000000 // a.first_rel_rank END AS BIGINT) AS mrr_micro,
       |  a.dcg_micro,
       |  CAST(($pLit)[greatest(least(pool.n_rel_pool, 10), 1)] AS BIGINT) AS idcg_micro,
       |  CAST(a.dcg_micro * 1000000 // ($pLit)[greatest(least(pool.n_rel_pool, 10), 1)] AS BIGINT)
       |    AS ndcg_ppm,
       |  CAST(a.n_rel_top10 * 100000 AS BIGINT) AS p_at10_ppm
       |FROM agg a JOIN pool USING (probe_id)
       |ORDER BY probe_id""".stripMargin
  }

  // --------------------------------------------------------------- q356

  /** q356: Kendall tau-b between rank-by-quantity and rank-by-revenue
    * over parts 1..100 — concordant/discordant/tied pair counts plus
    * tau_b in ppm with a floor(sqrt) denominator (the one
    * cross-engine-safe double→int path). Pair join is a broadcast of
    * the 100-row aggregate against itself; the lineitem aggregation
    * below it filters to the subset BEFORE the shuffle.
    */
  def q356_kendall_tau(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).filter(col("l_partkey") <= 100)
      .groupBy(col("l_partkey"))
      .agg(sum(FpSafe.cents(col("l_quantity"))).as("qty_c"),
        sum(FpSafe.cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("rev_c"))
    val pairs = li.as("a")
      .join(broadcast(li.as("b")), col("a.l_partkey") < col("b.l_partkey"))
      .select(
        (col("a.qty_c") - col("b.qty_c")).as("dx"),
        (col("a.rev_c") - col("b.rev_c")).as("dy"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when((col("dx") > 0 && col("dy") > 0) || (col("dx") < 0 && col("dy") < 0), 1L)
          .otherwise(0L)).as("concordant"),
        sum(when((col("dx") > 0 && col("dy") < 0) || (col("dx") < 0 && col("dy") > 0), 1L)
          .otherwise(0L)).as("discordant"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tie_x"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).as("tie_y"),
        sum(when(col("dx") === 0 && col("dy") === 0, 1L).otherwise(0L)).as("tie_both"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        col("tie_x"), col("tie_y"), col("tie_both"),
        expr("(concordant - discordant) * 1000000 div " +
          "CAST(floor(sqrt(CAST((n_pairs - tie_x) * (n_pairs - tie_y) AS DOUBLE))) AS BIGINT)")
          .as("tau_b_ppm"))
  }

  val q356Sql: String =
    """WITH agg AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c,
      |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM lineitem WHERE l_partkey <= 100 GROUP BY 1
      |), pairs AS (
      |  SELECT a.qty_c - b.qty_c AS dx, a.rev_c - b.rev_c AS dy
      |  FROM agg a JOIN agg b ON a.l_partkey < b.l_partkey
      |), c AS (
      |  SELECT count(*) AS n_pairs,
      |    CAST(sum(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0) THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
      |    CAST(sum(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0) THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
      |    CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tie_x,
      |    CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tie_y,
      |    CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tie_both
      |  FROM pairs
      |)
      |SELECT n_pairs, concordant, discordant, tie_x, tie_y, tie_both,
      |  CAST((concordant - discordant) * 1000000 //
      |    CAST(floor(sqrt(CAST((n_pairs - tie_x) * (n_pairs - tie_y) AS DOUBLE))) AS BIGINT)
      |    AS BIGINT) AS tau_b_ppm
      |FROM c""".stripMargin

  // --------------------------------------------------------------- q357

  /** q357: simplified silhouette of the label clustering in integer
    * milli-coordinates — per label: n, mean/min/max s (ppm), and the
    * count of points closer to a foreign centroid (b < a). s(i) =
    * (b−a)·1e6 div max(a,b) on SQUARED distances (documented variant;
    * monotone-equivalent separation signal, no per-row sqrt).
    * Scale shape: centroids are one map-combined shuffle on
    * (label, dim); the distance pass broadcasts the nlist×dim centroid
    * table and never shuffles the corpus; the rollup shuffles 1 row
    * per point.
    */
  def q357_silhouette(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"), (col("pos") + 1).as("dim"),
        round(col("x").cast("double") * 1000).cast("long").as("x_milli"))
    val cent = dims.groupBy(col("label").as("c_label"), col("dim"))
      .agg(expr("sum(x_milli) div count(1)").as("c_milli"))
    val d2 = dims.join(broadcast(cent), "dim")
      .groupBy(col("vec_id"), col("label"), col("c_label"))
      .agg(sum((col("x_milli") - col("c_milli")) * (col("x_milli") - col("c_milli")))
        .as("d2"))
    val ab = d2.groupBy(col("vec_id"), col("label"))
      .agg(min(when(col("c_label") === col("label"), col("d2"))).as("a"),
        min(when(col("c_label") =!= col("label"), col("d2"))).as("b"))
      .select(col("vec_id"), col("label"),
        expr("(b - a) * 1000000 div greatest(a, b)").as("s_ppm"),
        when(col("b") < col("a"), 1L).otherwise(0L).as("mis"))
    ab.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        expr("sum(s_ppm) div count(1)").as("mean_s_ppm"),
        min(col("s_ppm")).as("min_s_ppm"),
        max(col("s_ppm")).as("max_s_ppm"),
        sum(col("mis")).as("n_misassigned"))
      .orderBy(col("label"))
  }

  val q357Sql: String =
    """WITH dims AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    generate_subscripts(embedding, 1) AS dim,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x_milli
      |  FROM embeddings
      |), cent AS (
      |  SELECT label AS c_label, dim,
      |    CAST(sum(x_milli) AS BIGINT) // count(*) AS c_milli
      |  FROM dims GROUP BY 1, 2
      |), d2 AS (
      |  SELECT d.vec_id, d.label, c.c_label,
      |    CAST(sum((d.x_milli - c.c_milli) * (d.x_milli - c.c_milli)) AS BIGINT) AS d2
      |  FROM dims d JOIN cent c USING (dim) GROUP BY 1, 2, 3
      |), ab AS (
      |  SELECT vec_id, label,
      |    min(CASE WHEN c_label = label THEN d2 END) AS a,
      |    min(CASE WHEN c_label <> label THEN d2 END) AS b
      |  FROM d2 GROUP BY 1, 2
      |), sil AS (
      |  SELECT vec_id, label,
      |    CAST((b - a) * 1000000 // greatest(a, b) AS BIGINT) AS s_ppm,
      |    CASE WHEN b < a THEN 1 ELSE 0 END AS mis
      |  FROM ab
      |)
      |SELECT label, count(*) AS n,
      |  CAST(CAST(sum(s_ppm) AS BIGINT) // count(*) AS BIGINT) AS mean_s_ppm,
      |  CAST(min(s_ppm) AS BIGINT) AS min_s_ppm,
      |  CAST(max(s_ppm) AS BIGINT) AS max_s_ppm,
      |  CAST(sum(mis) AS BIGINT) AS n_misassigned
      |FROM sil GROUP BY label ORDER BY label""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q355_ndcg_mrr", q355_ndcg_mrr _, q355Sql),
    Query("q356_kendall_tau", q356_kendall_tau _, q356Sql),
    Query("q357_silhouette", q357_silhouette _, q357Sql)
  )
}
