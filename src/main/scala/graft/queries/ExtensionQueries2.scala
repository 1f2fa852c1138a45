package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{IvfIndex, Similarity}
import QueryBlocks.{centroidDistSql, dotSql, dotSqlDoubles}

/** Embedding-dedup and learned-index ANN — the remaining north-star
  * similarity operators.
  */
object ExtensionQueries2 extends QueryGroup {

  /** q37: embedding-cosine near-dup dedup. Jittered copies of 50 vectors
    * (deterministic integer-derived perturbation) are unioned in; the
    * brute-force pair scan must recover exactly the (original, copy) pairs
    * at cos ≥ 0.98. Fully oracle-checked (the jitter construction and the
    * cosine folds mirror in SQL).
    */
  def q37_embed_dedup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).filter(col("vec_id") < 50)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    // jitter computed BEFORE the id rename: both Spark (lateral column
    // alias resolution, 3.4+) and DuckDB would otherwise bind the renamed
    // vec_id inside the lambda — a genuinely cross-engine trap
    val jit = base.select(col("vec_id"),
      transform(sequence(lit(0), size(col("vec")) - 1),
        i => element_at(col("vec"), i + 1) + ((col("vec_id") + i) % 7 - 3) * lit(0.01))
        .as("vec"))
      .select((col("vec_id") + 100000L).as("vec_id"), col("vec"))
    // one tiny cached frame with norms precomputed: both sides of the
    // nested-loop pair join read the 100-row cache instead of re-deriving
    // scan→cast→jitter→norm per side (the norm recompute would ride the
    // non-equi join's build side)
    val all = base.union(jit)
      .withColumn("n", Similarity.norm(col("vec")))
      .transform(graft.core.CacheScope.scoped)
    val a = all.select(col("vec_id").as("id_a"), col("vec").as("va"), col("n").as("na"))
    val b = all.select(col("vec_id").as("id_b"), col("vec").as("vb"), col("n").as("nb"))
    // broadcast DECLARES the bound the plan can't prove (vec_id < 50 caps
    // both sides at 100 rows at ANY corpus size) and pins the nested-loop
    // build to the bounded side — the PlanGate contract for non-equi joins
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= 0.98)
      .orderBy(col("id_a"), col("id_b"))
  }

  val q37Sql: String = {
    s"""WITH base AS (
       |  SELECT vec_id, list_transform(range(1, len(embedding)+1),
       |    cv_i -> CAST(embedding[cv_i] AS DOUBLE)) AS vec
       |  FROM embeddings WHERE vec_id < 50
       |), jit AS (
       |  -- b.vec_id qualified: DuckDB lateral aliasing would otherwise bind
       |  -- the SELECT's own (vec_id + 100000) alias inside the lambda
       |  SELECT b.vec_id + 100000 AS new_id,
       |    list_transform(range(0, len(b.vec)),
       |      jt_i -> b.vec[jt_i + 1] + ((b.vec_id + jt_i) % 7 - 3) * 0.01) AS vec
       |  FROM base b
       |), a AS (SELECT vec_id, vec FROM base
       |         UNION ALL SELECT new_id AS vec_id, vec FROM jit)
       |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |  ${dotSqlDoubles("x.vec", "y.vec")} / (sqrt(${dotSqlDoubles("x.vec", "x.vec")}) * sqrt(${dotSqlDoubles("y.vec", "y.vec")})) AS cos
       |FROM a x JOIN a y ON x.vec_id < y.vec_id
       |WHERE ${dotSqlDoubles("x.vec", "y.vec")} / (sqrt(${dotSqlDoubles("x.vec", "x.vec")}) * sqrt(${dotSqlDoubles("y.vec", "y.vec")})) >= 0.98
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Memoized IVF model per sf dir: q38 and q47 share one deterministic
    * training run (hash-sampled, id-sorted, fixed seed — IvfIndex.train),
    * and the q38 oracle mirror (generated AFTER the queries run; Verify
    * dumps oracle_sql.json last) embeds exactly these centroids.
    */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, IvfIndex.Model]()

  private[queries] def ivfModel(s: SparkSession, dir: String): IvfIndex.Model =
    modelCache.computeIfAbsent(dir,
      d => IvfIndex.train(Tables.embeddings(s, d), "vec_id", "embedding", nlist = 16))

  /** q38: IVF approximate top-k — sample-trained k-means centroids
    * partition the corpus; probes search their nprobe nearest lists.
    * Oracle: the training is deterministic (seeded hash sample, id-sorted,
    * fixed Lloyd's iterations), so the learned centroids are embedded into
    * the mirror SQL as literals ([[q38SqlFor]]) and DuckDB replays
    * assignment, probing, and ranking exactly — the fold orders match
    * Similarity.dot/IvfIndex.distSq, so cosines are bit-identical.
    * Quality (not just determinism) is separately certified by q47's
    * recall-floor row.
    */
  def q38_ann_ivf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val model = ivfModel(s, dir)
    IvfIndex.ivfTopK(e, "vec_id", "embedding", col("vec_id") < 20, 5, model, nprobe = 4)
      .select(col("probe_id"), col("rank"), col("cand_id"), col("cos"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** DuckDB mirror of q38 for a given trained model: centroids ride as
    * DOUBLE[] literals (Double.toString round-trips exactly through
    * DuckDB's correctly-rounded parser); assignment = argmin over the
    * same left-to-right (x-c)² fold; probe lists = top-nprobe by
    * (distance, index); ranking = row_number over (cos DESC, cand_id).
    */
  def q38SqlFor(model: IvfIndex.Model, candWhere: String = "TRUE"): String = {
    val cents = model.centroids.zipWithIndex
      .map { case (c, i) => s"($i, " + c.map(ExtensionQueries6.dLit).mkString("CAST([", ", ", "] AS DOUBLE[]))") }
      .mkString(",\n  ")
    s"""WITH cent(ci, cv) AS (VALUES
       |  $cents),
       |c AS (SELECT vec_id AS cand_id, label, list_transform(range(1, len(embedding)+1),
       |  cv_i -> CAST(embedding[cv_i] AS DOUBLE)) AS cvec FROM embeddings),
       |cf AS (SELECT cand_id, cvec FROM c WHERE $candWhere),
       |ca AS (SELECT cand_id, cvec, ci AS list FROM (
       |  SELECT cand_id, cvec, ci,
       |    row_number() OVER (PARTITION BY cand_id ORDER BY ${centroidDistSql("cvec")}, ci) AS rn
       |  FROM cf CROSS JOIN cent) WHERE rn = 1),
       |p AS (SELECT cand_id AS probe_id, cvec AS pvec FROM c WHERE cand_id < 20),
       |pl AS (SELECT probe_id, pvec, ci AS list FROM (
       |  SELECT probe_id, pvec, ci,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY ${centroidDistSql("pvec")}, ci) AS rn
       |  FROM p CROSS JOIN cent) WHERE rn <= 4),
       |s AS (SELECT probe_id, cand_id,
       |  ${dotSqlDoubles("pvec", "cvec")} / (sqrt(${dotSqlDoubles("pvec", "pvec")}) * sqrt(${dotSqlDoubles("cvec", "cvec")})) AS cos
       |  FROM pl JOIN ca USING (list) WHERE probe_id <> cand_id)
       |SELECT probe_id, CAST(rank AS INT) AS rank, cand_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM s) t
       |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin
  }

  // q70's giant-cluster guard: lists above the cap sub-shard on an in-list
  // LSH bucket (4 sign bits, independent table 9). 24 < the biggest list
  // this corpus produces, so the guard genuinely EXERCISES at verify scale
  // and the oracle proves the SQL mirror of the sub-bucket LCG.
  private val SemGiantCap = 24
  private val SemSubBits = 4
  private val SemSubTable = 9

  /** q70: SemDeDup — semantic dedup within learned clusters
    * (Similarity.semDedup; the LLM-corpus "prune near-identical content
    * the MinHash stack can't see" operator). Jittered copies of the first
    * 50 vectors are unioned in (same deterministic construction family as
    * q37, tighter perturbation); the operator must assign originals and
    * copies to lists, pair within lists, and drop exactly the
    * larger-id member of every cos ≥ 0.98 in-cluster pair — where lists
    * larger than [[SemGiantCap]] pair within (list, LSH sub-bucket)
    * instead (the 100 TB degenerate-cluster guard, live at this scale).
    * Oracle: full mirror with the trained centroids as literals
    * ([[q70SqlFor]]) — the assignment argmin, the jitter arithmetic, the
    * cosine folds, AND the conditional sub-bucket LCG replay bit-exactly
    * in DuckDB.
    */
  def q70_semdedup(s: SparkSession, dir: String): DataFrame = {
    val model = ivfModel(s, dir)
    val base = Tables.embeddings(s, dir).filter(col("vec_id") < 150)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    // jitter bound BEFORE the id rename (the q37 cross-engine lateral-alias
    // trap); ±0.01 per component keeps copies at cos ≥ 0.98 of the source
    val jit = base.filter(col("vec_id") < 50).select(col("vec_id"),
      transform(sequence(lit(0), size(col("vec")) - 1),
        i => element_at(col("vec"), i + 1) + ((col("vec_id") + i) % 5 - 2) * lit(0.005))
        .as("vec"))
      .select((col("vec_id") + 100000L).as("vec_id"), col("vec"))
    Similarity.semDedup(base.union(jit), "vec_id", "vec", model, minCos = 0.98,
        giantCap = SemGiantCap, subBits = SemSubBits, subTable = SemSubTable)
      .orderBy(col("id"))
  }

  /** DuckDB mirror of q70 for a trained model: centroid literals, the q38
    * assignment argmin (same (x-c)² fold, ties by list index), the q37
    * jitter arithmetic, the conditional giant-cluster LSH sub-bucket (the
    * q31 hyperplane-LCG replayed at [[SemSubBits]] bits / table
    * [[SemSubTable]]), and the drop rule as an in-(list, sub) pair join.
    */
  def q70SqlFor(model: IvfIndex.Model): String = {
    val cents = model.centroids.zipWithIndex
      .map { case (c, i) => s"($i, " + c.map(ExtensionQueries6.dLit).mkString("CAST([", ", ", "] AS DOUBLE[]))") }
      .mkString(",\n  ")
    // sub-bucket: bit j (0-based, MSB first) is the sign of the in-order
    // projection fold onto hyperplane LCG(jj = j + table·1000) — literal
    // mirror of functions.LshBucket / Similarity.hyperplaneAt
    def hp(j: Int, i: String): String = {
      val jj = j + SemSubTable * 1000
      s"(CAST(((($jj*4099 + ($i)*131 + 7) * 1103515245 + 12345) % 2147483647) % 2001 - 1000 AS DOUBLE) / 1000.0)"
    }
    def proj(v: String, j: Int): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, len($v)+1), pr_i -> $v[pr_i] * ${hp(j, "pr_i - 1")})), " +
        s"(pj_a, pj_b) -> pj_a + pj_b)"
    def bucket(v: String): String =
      (0 until SemSubBits).map { j =>
        s"(CASE WHEN ${proj(v, j)} > 0 THEN ${1L << (SemSubBits - 1 - j)} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    s"""WITH cent(ci, cv) AS (VALUES
       |  $cents),
       |base AS (
       |  SELECT vec_id, list_transform(range(1, len(embedding)+1),
       |    cv_i -> CAST(embedding[cv_i] AS DOUBLE)) AS vec
       |  FROM embeddings WHERE vec_id < 150
       |), jit AS (
       |  SELECT b.vec_id + 100000 AS vec_id,
       |    list_transform(range(0, len(b.vec)),
       |      jt_i -> b.vec[jt_i + 1] + ((b.vec_id + jt_i) % 5 - 2) * 0.005) AS vec
       |  FROM base b WHERE b.vec_id < 50
       |), allv AS (SELECT vec_id, vec FROM base UNION ALL SELECT vec_id, vec FROM jit),
       |asn0 AS (SELECT vec_id, vec, ci AS list FROM (
       |  SELECT vec_id, vec, ci,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ${centroidDistSql("vec")}, ci) AS rn
       |  FROM allv CROSS JOIN cent) WHERE rn = 1),
       |asn AS (
       |  SELECT vec_id, vec, list,
       |    CASE WHEN count(*) OVER (PARTITION BY list) > $SemGiantCap
       |         THEN ${bucket("vec")} ELSE 0 END AS sub
       |  FROM asn0),
       |dropped AS (
       |  SELECT DISTINCT y.vec_id AS id
       |  FROM asn x JOIN asn y ON x.list = y.list AND x.sub = y.sub AND x.vec_id < y.vec_id
       |  WHERE ${dotSqlDoubles("x.vec", "y.vec")} / (sqrt(${dotSqlDoubles("x.vec", "x.vec")}) * sqrt(${dotSqlDoubles("y.vec", "y.vec")})) >= 0.98)
       |SELECT a.vec_id AS id, a.list, (d.id IS NULL) AS keep
       |FROM asn a LEFT JOIN dropped d ON a.vec_id = d.id
       |ORDER BY id""".stripMargin
  }

  /** q47: ANN quality certification — IVF recall@5 vs the exact top-5 for
    * the q38 configuration (nlist 16, nprobe 4). The centroids are learned
    * (engine-internal), so the oracle pins the CONTRACT rather than the
    * trajectory: DuckDB recomputes the exact-top-k denominator (`n_exact`)
    * and the expected verdict literal; Spark computes the real recall and
    * reports whether the pinned floor (0.40 — far above the 0.25
    * random-probing baseline of nprobe/nlist; measured 0.54 at sf0.01)
    * holds. A centroid/assignment/probe regression flips the boolean and
    * reds the row.
    */
  def q47_ann_recall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", col("vec_id") < 20, 5)
      .select(col("probe_id"), col("cand_id"))
    val model = ivfModel(s, dir)
    val ivf = IvfIndex.ivfTopK(e, "vec_id", "embedding", col("vec_id") < 20, 5, model, nprobe = 4)
      .select(col("probe_id"), col("cand_id"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val hits = exact.join(ivf, Seq("probe_id", "cand_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    nExact.crossJoin(hits)
      .select(col("n_exact"),
        (col("__hits").cast("double") / col("n_exact") >= 0.40).as("ivf_recall_ok"))
  }

  val q47Sql: String = {
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
       |s AS (
       |  SELECT probe_id, cand_id,
       |    ${dotSql("pv", "cv")} / (sqrt(${dotSql("pv", "pv")}) * sqrt(${dotSql("cv", "cv")})) AS cos
       |  FROM p CROSS JOIN c WHERE probe_id <> cand_id
       |), topk AS (
       |  SELECT probe_id, cand_id,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM s QUALIFY rank <= 5
       |)
       |SELECT count(*) AS n_exact, true AS ivf_recall_ok FROM topk""".stripMargin
  }

  /** q42: near-dup CLUSTERING — the dedup decision step. Two doctored
    * variants per document (last 3 / last 6 tokens dropped) are unioned in,
    * near-dup pairs come from the hashed-shingle Jaccard join (≥ 0.3), and
    * connected components assign every linked doc its cluster representative
    * (minimum id). Oracle: identical pair construction + a recursive-CTE
    * min-label closure in DuckDB.
    */
  /** The q42 test corpus: filtered originals plus two doctored variants
    * per document (last 3 / last 6 tokens dropped). Shared with q142's
    * survivorship stage.
    */
  def q42Corpus(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.TextAnalysis
    val toks = TextAnalysis.tokens(col("text"))
    val d = Tables.documents(s, dir)
      .filter(col("doc_id") < 30 && size(toks) >= 9)
      .select(col("doc_id"), col("text"))
    def variant(offset: Long, drop: Int) = d
      .select(col("doc_id"), concat_ws(" ", slice(toks, lit(1), size(toks) - drop)).as("text"))
      .select((col("doc_id") + offset).as("doc_id"), col("text"))
    d.union(variant(100000L, 3)).union(variant(200000L, 6))
  }

  def q42_dedup_clusters(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Dedup
    val all = q42Corpus(s, dir)
    val pairs = Dedup.jaccardPairs(all, "doc_id", col("text"), 3)
      .filter(col("jaccard") >= 0.3)
      .select(col("id_a"), col("id_b"))
    Dedup.connectedComponents(pairs)
      .select(col("id"), col("rep"))
      .orderBy(col("id"))
  }

  /** Session-memoized q42 cluster rows: eight queries
    * ([[memoizedQueries]]) audit the SAME clustering, and re-deriving it
    * per query cost ~18 s of the sf0.1 bench. The frame is ≤90 rows at
    * ANY corpus size (the q42 corpus is doc_id < 30, ×3 variants — a plan-constant
    * fixture, not a data volume), so the memo holds the COLLECTED rows +
    * schema and each call rebuilds a fresh LocalRelation from them: a
    * ≤90-row driver collect within the repo's bounded-collect
    * discipline, immune to cache/persisted-RDD sweeps (Bench's
    * release() unpersists every RDD between runs — a memoized
    * localCheckpoint would be orphaned mid-session), and
    * `maxRows`-bounded for the PlanGate audit. Every consumer stays
    * independently runnable (whichever runs first computes) and each
    * query's DuckDB mirror still re-derives the full CTE chain, so
    * results remain independently oracle-checked.
    *
    * Cache-entry lifecycle: the value holds only Rows
    * and a StructType — neither references the SparkSession key — so the
    * WeakHashMap's weak keys genuinely collect once a test session is
    * stopped and dropped. Entries are keyed on (dir, mtime of
    * `documents.parquet`), so a rewrite of the data under a reused path
    * (temp-dir reuse, regenerated testdata) misses the stale entry
    * instead of replaying it; [[invalidateClusterMemo]] is the explicit
    * hook for callers that rewrite in place without an mtime tick.
    */
  private val clusterMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[
      (String, Long), (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)]]())

  /** Registered names of the queries that replay the memo after the first
    * consumer computes — Bench marks these in the artifact so a reader
    * doesn't mistake a ≤90-row replay time for the clustering's cost.
    */
  val memoizedQueries: Seq[String] = Seq(
    "q42_dedup_clusters", "q142_canonical_docs", "q166_cluster_histogram",
    "q199_neardup_diff", "q208_dedup_waterfall", "q234_cluster_capping",
    "q248_cluster_drift", "q271_cross_source_dups")

  /** Drop every memoized cluster entry (all sessions). For callers that
    * rewrite data under an already-memoized path in place.
    */
  def invalidateClusterMemo(): Unit = clusterMemo.clear()

  def q42ClustersStaged(s: SparkSession, dir: String): DataFrame = {
    val mtime = new java.io.File(dir, "documents.parquet").lastModified()
    val (rows, schema) = clusterMemo
      .computeIfAbsent(s, _ => scala.collection.concurrent.TrieMap.empty)
      .getOrElseUpdate((dir, mtime), {
        val computed = q42_dedup_clusters(s, dir)
        (computed.collect(), computed.schema) // ≤90 rows by construction (see above)
      })
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The q42 CTE chain (corpus → shingles → pairs → min-label closure),
    * WITHOUT a final SELECT — shared by the q42 mirror and q142's
    * survivorship mirror, which both continue the WITH list.
    */
  val q42ClusterCtes: String = {
    val ph = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, length(sh_s)+1), ch_i -> CAST(ascii(substring(sh_s, ch_i, 1)) AS BIGINT))), " +
      "(ph_a, ph_b) -> (ph_a*31 + ph_b) % 1000000007)"
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id < 30 AND len(string_split(text, ' ')) >= 9
       |), allv AS (
       |  SELECT doc_id, text FROM d
       |  UNION ALL
       |  SELECT doc_id + 100000, array_to_string(list_slice(string_split(text,' '), 1,
       |    len(string_split(text,' ')) - 3), ' ') FROM d
       |  UNION ALL
       |  SELECT doc_id + 200000, array_to_string(list_slice(string_split(text,' '), 1,
       |    len(string_split(text,' ')) - 6), ' ') FROM d
       |), sh AS (
       |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
       |    list_transform(range(1, len(string_split(text,' ')) - 1),
       |      sh_i -> array_to_string(list_slice(string_split(text,' '), sh_i, sh_i + 2), ' ')),
       |    sh_s -> $ph))) AS sh
       |  FROM allv WHERE len(string_split(text,' ')) >= 3
       |), sizes AS (SELECT id, count(*) AS nsh FROM sh GROUP BY id
       |), hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 1000
       |), shc AS (SELECT id, sh.sh FROM sh LEFT JOIN hot ON sh.sh = hot.sh WHERE hot.sh IS NULL
       |), pr AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2
       |), edges0 AS (
       |  SELECT id_a, id_b FROM pr
       |  JOIN sizes na ON id_a = na.id JOIN sizes nb ON id_b = nb.id
       |  WHERE CAST(inter AS DOUBLE)/(na.nsh + nb.nsh - inter) >= 0.3
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM edges0
       |  UNION SELECT id_b, id_a FROM edges0
       |), lbl AS (
       |  WITH RECURSIVE r(id, rep) AS (
       |    SELECT DISTINCT src, src FROM edges
       |    UNION
       |    SELECT e.dst, r.rep FROM r JOIN edges e ON e.src = r.id
       |  ) SELECT id, CAST(min(rep) AS BIGINT) AS rep FROM r GROUP BY id
       |)""".stripMargin
  }

  val q42Sql: String =
    s"""$q42ClusterCtes
       |SELECT id, rep FROM lbl ORDER BY id""".stripMargin

  /** The dir's trained IVF model, if any — shared with the
    * filtered-ANN tier ([[ExtensionQueries10]]; one index serves every
    * predicate, filtering is probe-time) and q491's rebuild-churn mirror.
    */
  private[queries] def trainedIvf(dir: String): Option[IvfIndex.Model] =
    Option(modelCache.get(dir))

  /** A mirror generated from the dir's trained centroids (q38, q70, q113):
    * the literals must come from the model trained on exactly the dir being
    * verified — a JVM that trains two scale dirs must not leak one dir's
    * centroids into the other's oracle.
    */
  private[queries] def ivfOracle(sqlFor: IvfIndex.Model => String): Oracle =
    Oracle.Model(d => trainedIvf(d).map(sqlFor))

  val entries: Seq[Query] = Seq(
    Query("q37_embed_dedup", q37_embed_dedup _, q37Sql),
    Query("q38_ann_ivf", q38_ann_ivf _, ivfOracle(m => q38SqlFor(m))),
    Query("q42_dedup_clusters",
      (s: SparkSession, d: String) => q42ClustersStaged(s, d).orderBy(col("id")), q42Sql),
    Query("q47_ann_recall", q47_ann_recall _, q47Sql),
    Query("q70_semdedup", q70_semdedup _, ivfOracle(q70SqlFor))
  )
}
