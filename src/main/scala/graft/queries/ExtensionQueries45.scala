package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.Similarity
import QueryBlocks.{dotSql, Q20}

/** Embedding cluster quality, classifier error
  * structure, and inter-rater reliability — exact-integer,
  * DuckDB-oracle-gated.
  *
  *  - q228: label-separation audit — intra vs nearest-inter centroid
  *    distances per label.
  *  - q229: kNN confusion matrix — WHERE the q159 classifier errs.
  *  - q230: Cohen's kappa between two quality raters.
  */
object ExtensionQueries45 extends QueryGroup {

  // --------------------------------------------------------------- q228

  /** q228: label-separation audit — per label, the mean L1 distance of
    * its vectors to their OWN centroid (intra, micro-units) vs the L1
    * distance from that centroid to the NEAREST other centroid (inter),
    * and the separation ratio in ppm — the silhouette-style clustering
    * health check, fully integer: components quantize by the exact
    * `floor(x·2²⁰)` map (q165), centroids are integer-mean micro-unit
    * vectors, distances are integer L1.
    *
    * Scale shape: one posexplode pass → (label, dim) sums (the
    * corpus-sized pass); centroids are a |labels|·|dims| frame
    * (broadcast); per-vector intra distances fold dim-wise in ONE
    * exploded join; centroid-to-centroid is a tiny pairwise fold.
    */
  def q228_label_separation(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("vec_id"), col("dim").cast("long").as("dim"),
        expr(s"CAST(floor(CAST(x AS DOUBLE) * $Q20) AS BIGINT)").as("qv"))
    val cent = q.groupBy(col("label"), col("dim"))
      .agg(expr("sum(qv) * 1000000 div count(1)").as("c"))
    val intra = q.join(broadcast(cent), Seq("label", "dim"))
      .groupBy(col("label"), col("vec_id"))
      .agg(sum(abs(col("qv") * 1000000 - col("c"))).as("d1"))
      .groupBy(col("label"))
      .agg(expr("sum(d1) div count(1)").as("intra_micro"))
    val pairs = cent.as("a").join(cent.as("b"),
        col("a.dim") === col("b.dim") && col("a.label") =!= col("b.label"))
      .groupBy(col("a.label").as("label"), col("b.label").as("other"))
      .agg(sum(abs(col("a.c") - col("b.c"))).as("cd"))
      .groupBy(col("label"))
      .agg(min(col("cd")).as("inter_micro"))
    intra.join(pairs, "label")
      .select(col("label"), col("intra_micro"), col("inter_micro"),
        expr("inter_micro * 1000000 div intra_micro").as("separation_ppm"))
      .orderBy(col("label"))
  }

  val q228Sql: String =
    s"""WITH q AS (
       |  SELECT CAST(label AS BIGINT) AS label, vec_id,
       |    unnest(range(1, len(embedding) + 1)) - 1 AS dim,
       |    unnest(list_transform(embedding, sx ->
       |      CAST(floor(CAST(sx AS DOUBLE) * $Q20) AS BIGINT))) AS qv
       |  FROM embeddings
       |), cent AS (
       |  SELECT label, dim, CAST(sum(qv) * 1000000 // count(*) AS BIGINT)
       |    AS c
       |  FROM q GROUP BY label, dim
       |), intra AS (
       |  SELECT label, CAST(sum(d1) // count(*) AS BIGINT) AS intra_micro
       |  FROM (
       |    SELECT q.label, q.vec_id,
       |      CAST(sum(abs(qv * 1000000 - c)) AS BIGINT) AS d1
       |    FROM q JOIN cent ON q.label = cent.label AND q.dim = cent.dim
       |    GROUP BY q.label, q.vec_id
       |  ) GROUP BY label
       |), inter AS (
       |  SELECT label, CAST(min(cd) AS BIGINT) AS inter_micro FROM (
       |    SELECT a.label AS label, b.label AS other,
       |      CAST(sum(abs(a.c - b.c)) AS BIGINT) AS cd
       |    FROM cent a JOIN cent b
       |      ON a.dim = b.dim AND a.label <> b.label
       |    GROUP BY a.label, b.label
       |  ) GROUP BY label
       |)
       |SELECT intra.label, intra_micro, inter_micro,
       |  CAST(inter_micro * 1000000 // intra_micro AS BIGINT)
       |    AS separation_ppm
       |FROM intra JOIN inter ON intra.label = inter.label
       |ORDER BY intra.label""".stripMargin

  // --------------------------------------------------------------- q229

  /** q229: kNN confusion matrix — the q159 5-NN majority-vote
    * classifier's full (true, predicted) error structure over the same
    * 50 probes: which labels leak into which. The off-diagonal mass is
    * what per-class accuracy (q159) cannot show — merge candidates for
    * confusable labels come straight off this table.
    *
    * Scale shape: identical kernel to q159 (norms precomputed per row,
    * probes broadcast, WindowGroupLimit keep-5, struct-min argmax); the
    * matrix is a ≤|labels|² fold.
    */
  def q229_knn_confusion(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val labels = e.select(col("vec_id"), col("label"))
    val topk = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      col("vec_id") < 50, 5)
    val votes = topk
      .join(labels.select(col("vec_id").as("cand_id"), col("label").as("nl")),
        "cand_id")
      .groupBy(col("probe_id"), col("nl")).agg(count(lit(1)).as("cnt"))
    val pred = votes.groupBy(col("probe_id"))
      .agg(min(struct((-col("cnt")).as("ncnt"), col("nl").as("nl"))).as("m"))
      .select(col("probe_id"), col("m.nl").as("pred"))
    pred
      .join(labels.select(col("vec_id").as("probe_id"),
        col("label").as("true_label")), "probe_id")
      .groupBy(col("true_label").cast("long").as("true_label"),
        col("pred").cast("long").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("true_label"), col("predicted"))
  }

  val q229Sql: String = {
    s"""WITH p AS (
       |  SELECT vec_id AS probe_id, embedding AS pv FROM embeddings
       |  WHERE vec_id < 50
       |), c AS (
       |  SELECT vec_id AS cand_id, embedding AS cv, label AS nl
       |  FROM embeddings
       |), sc AS (
       |  SELECT probe_id, cand_id, nl,
       |    ${dotSql("pv", "cv")} / (sqrt(${dotSql("pv", "pv")}) * sqrt(${dotSql("cv", "cv")})) AS cos
       |  FROM p CROSS JOIN c WHERE probe_id <> cand_id
       |), top AS (
       |  SELECT probe_id, nl FROM (
       |    SELECT probe_id, nl,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rnk
       |    FROM sc
       |  ) WHERE rnk <= 5
       |), votes AS (
       |  SELECT probe_id, nl, count(*) AS cnt FROM top GROUP BY probe_id, nl
       |), pred AS (
       |  SELECT probe_id, nl AS pred FROM (
       |    SELECT probe_id, nl,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY cnt DESC, nl) AS rn
       |    FROM votes
       |  ) WHERE rn = 1
       |)
       |SELECT CAST(e.label AS BIGINT) AS true_label,
       |  CAST(pred.pred AS BIGINT) AS predicted, count(*) AS n
       |FROM pred JOIN embeddings e ON e.vec_id = pred.probe_id
       |GROUP BY true_label, predicted
       |ORDER BY true_label, predicted""".stripMargin
  }

  // --------------------------------------------------------------- q230

  /** q230: Cohen's kappa between two document-quality raters — rater A
    * flags SHORT docs (n_chars < 200), rater B flags REPETITIVE docs
    * (distinct whitespace tokens < half of token count). Kappa measures
    * agreement beyond chance, exactly:
    * `κ_ppm = (agree·n − Σ_c a_c·b_c) · 10⁶ div (n² − Σ_c a_c·b_c)`
    * (the po/pe formula cross-multiplied by n² so nothing but integers
    * ever forms; negative kappa — worse than chance — comes out exact
    * too). The inter-rater reliability readout that tells a pipeline
    * whether two cheap heuristics are redundant or complementary.
    *
    * Scale shape: both raters evaluate in ONE projection over the
    * documents scan; the 2×2 table is a 1-row aggregate; kappa is a
    * 1-row projection.
    */
  def q230_cohens_kappa(s: SparkSession, dir: String): DataFrame = {
    val flags = Tables.documents(s, dir)
      .select(
        when(col("n_chars") < 200, 1L).otherwise(0L).as("a"),
        when(size(array_distinct(split(col("text"), " "))) * 2 <
          size(split(col("text"), " ")), 1L).otherwise(0L).as("b"))
    flags.agg(count(lit(1)).as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"),
        sum(col("a")).as("a1"), sum(col("b")).as("b1"))
      .select(col("n"), col("agree"), col("a1"), col("b1"),
        expr("""(agree * n - (a1 * b1 + (n - a1) * (n - b1))) * 1000000
                div (n * n - (a1 * b1 + (n - a1) * (n - b1)))""")
          .as("kappa_ppm"))
  }

  val q230Sql: String =
    """WITH f AS (
      |  SELECT CASE WHEN n_chars < 200 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN len(list_distinct(string_split(text, ' '))) * 2 <
      |      len(string_split(text, ' ')) THEN 1 ELSE 0 END AS b
      |  FROM documents
      |), t AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
      |    CAST(sum(a) AS BIGINT) AS a1, CAST(sum(b) AS BIGINT) AS b1
      |  FROM f
      |)
      |SELECT n, agree, a1, b1,
      |  CAST((agree * n - (a1 * b1 + (n - a1) * (n - b1))) * 1000000
      |    // (n * n - (a1 * b1 + (n - a1) * (n - b1))) AS BIGINT)
      |    AS kappa_ppm
      |FROM t""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q228_label_separation", q228_label_separation _, q228Sql),
    Query("q229_knn_confusion", q229_knn_confusion _, q229Sql),
    Query("q230_cohens_kappa", q230_cohens_kappa _, q230Sql)
  )
}
