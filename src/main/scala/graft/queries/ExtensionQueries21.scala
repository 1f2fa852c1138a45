package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{CacheScope, Tables}
import graft.ext.{Dedup, Similarity, TextAnalysis}
import QueryBlocks.dotSql

/** Embedding-space evaluation, event-time statistics,
  * and LSH parameter sweeps.
  *
  *  - q159: kNN classification accuracy over the embedding table — the
  *    label-quality eval a training-data pipeline runs on its vectors.
  *  - q160: inter-arrival time percentiles per event type — exact
  *    rank-selected order statistics over window deltas.
  *  - q161: LSH band-geometry sweep — q157's quality certificate across
  *    three (bands, rows) configurations in one plan.
  */
object ExtensionQueries21 extends QueryGroup {

  // --------------------------------------------------------------- q159

  /** q159: 5-NN majority-vote classification accuracy per class. Probes
    * are the q30 probe set (vec_id < 50); each probe's label is
    * predicted as the mode of its 5 exact cosine neighbors' labels
    * (ties → smallest label), and the report is per-true-class accuracy
    * in integer ppm — the standard embedding-quality eval (does the
    * space cluster by label?).
    *
    * Scale shape: the q30 brute kernel (per-row norms precomputed,
    * bounded probe set BROADCAST as the build side, corpus streams);
    * voting is two tiny keyed aggregates over probes×5 rows; the mode's
    * argmax is a struct-min fold (no window over votes). Swapping the
    * kernel for q38's IVF probe turns this into the approximate-eval
    * variant with the identical voting plan.
    */
  def q159_knn_accuracy(s: SparkSession, dir: String): DataFrame = {
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
      .groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("pred") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc_ppm", expr("n_correct * 1000000 div n_probes"))
      .orderBy(col("true_label"))
  }

  val q159Sql: String = {
    s"""WITH p AS (
       |  SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 50
       |), c AS (
       |  SELECT vec_id AS cand_id, embedding AS cv, label AS nl FROM embeddings
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
       |), j AS (
       |  SELECT e.label AS true_label, pred.pred
       |  FROM pred JOIN embeddings e ON e.vec_id = pred.probe_id
       |)
       |SELECT true_label, count(*) AS n_probes,
       |  CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CAST(sum(CASE WHEN pred = true_label THEN 1 ELSE 0 END) * 1000000
       |       // count(*) AS BIGINT) AS acc_ppm
       |FROM j GROUP BY true_label ORDER BY true_label""".stripMargin
  }

  // --------------------------------------------------------------- q160

  /** q160: inter-arrival time percentiles per event type — p50/p90 of
    * the gaps between consecutive same-type events, as EXACT
    * rank-selected order statistics (the ceil(q·n)-th smallest gap,
    * computed with the integer identity ceil(a/b) = (a+b−1) div b — no
    * float ceil, no interpolation). The arrival-process profile behind
    * capacity planning and staleness SLOs.
    *
    * Scale shape: one lag window and one rank window, both partitioned
    * by the scope key (event_type here; (tenant, metric) at fleet
    * scale — ranks parallelize across scopes, and a single giant scope
    * would swap in the q91 two-phase rank); sizes join back as a tiny
    * broadcast; percentile selection is a conditional aggregate, never
    * a second pass.
    */
  def q160_interarrival(s: SparkSession, dir: String): DataFrame = {
    val wlag = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
    val deltas = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), expr("ts div 1000").as("us"))
      .withColumn("delta_us", col("us") - lag(col("us"), 1).over(wlag))
      .filter(col("delta_us").isNotNull)
    val wr = Window.partitionBy(col("event_type"))
      .orderBy(col("delta_us"), col("event_id"))
    val ranked = deltas.withColumn("rn", row_number().over(wr).cast("long"))
    val sizes = deltas.groupBy(col("event_type")).agg(count(lit(1)).as("n_gaps"))
    ranked.join(broadcast(sizes), "event_type")
      .groupBy(col("event_type"), col("n_gaps"))
      .agg(
        min(when(col("rn") === expr("(n_gaps + 1) div 2"), col("delta_us")))
          .as("p50_us"),
        min(when(col("rn") === expr("(9 * n_gaps + 9) div 10"), col("delta_us")))
          .as("p90_us"))
      .orderBy(col("event_type"))
  }

  val q160Sql: String =
    """WITH f AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS us FROM events
      |), d AS (
      |  SELECT event_type, event_id,
      |    us - lag(us, 1) OVER (PARTITION BY event_type ORDER BY us, event_id)
      |      AS delta_us
      |  FROM f
      |), dd AS (
      |  SELECT * FROM d WHERE delta_us IS NOT NULL
      |), r AS (
      |  SELECT event_type, delta_us,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY delta_us, event_id) AS rn
      |  FROM dd
      |), sz AS (
      |  SELECT event_type, count(*) AS n_gaps FROM dd GROUP BY event_type
      |)
      |SELECT r.event_type, n_gaps,
      |  min(CASE WHEN rn = (n_gaps + 1) // 2 THEN delta_us END) AS p50_us,
      |  min(CASE WHEN rn = (9 * n_gaps + 9) // 10 THEN delta_us END) AS p90_us
      |FROM r JOIN sz ON r.event_type = sz.event_type
      |GROUP BY r.event_type, n_gaps
      |ORDER BY r.event_type""".stripMargin

  // --------------------------------------------------------------- q161

  /** q161: LSH band-geometry parameter sweep — q157's quality
    * certificate evaluated for (16 bands × 4 rows), (8 × 8), and
    * (4 × 16) over the SAME 64-component signatures and the SAME exact
    * ground truth, in one plan. More bands with shorter rows admit more
    * pairs (higher recall, lower precision); this query measures that
    * trade exactly, which is how the band geometry gets CHOSEN before a
    * corpus-scale run.
    *
    * Scale shape: signatures and truth compute once (scope-cached, all
    * three geometries consume them); each geometry's candidates come
    * from its own (band, key) equi-join; counts ride as 1-row
    * broadcasts. The sweep is 3× the banding cost, NOT 3× the corpus
    * cost — the signature pass dominates and is shared.
    */
  def q161_lsh_sweep(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val d = Tables.documents(s, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
      .filter(size(toks) >= 8)
    val doctored = d.select((col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 5, lit(3)))).as("text"))
    val all = CacheScope.scoped(d.union(doctored))
    val truth = CacheScope.scoped(
      Dedup.jaccardPairs(all, "doc_id", col("text"), 3)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b")))
    val withSig = CacheScope.scoped(
      all.withColumn("hashes", Dedup.shingleHashes(col("text"), 3))
        .select(col("doc_id"), Dedup.minhashFromHashes(col("hashes"), 64).as("sig")))
    val rows = Seq((16, 4), (8, 8), (4, 16)).map { case (b, r) =>
      val cand = CacheScope.scoped(
        Dedup.lshCandidates(withSig, "doc_id", col("sig"), b))
      val hit = cand.join(truth, Seq("id_a", "id_b"))
      cand.agg(count(lit(1)).as("n_cand"))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .select(lit(b).as("bands"), lit(r).as("r"),
          col("n_cand"), col("n_hit"),
          expr("n_hit * 1000000 div n_cand").as("precision_ppm"),
          expr("n_hit * 1000000 div n_truth").as("recall_ppm"))
    }
    rows.reduce(_ union _).orderBy(col("bands").desc)
  }

  val q161Sql: String = {
    val toks = "string_split(text, ' ')"
    def geom(b: Int, r: Int): String =
      s"""banded_$b AS (
         |  SELECT doc_id, band,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, band*$r + 1, band*$r + $r)),
         |      (bk_a, bk_x) -> (bk_a*31 + bk_x) % 1000000007) AS band_key
         |  FROM sg CROSS JOIN (SELECT unnest(range(0, $b)) AS band) bands_$b
         |), cand_$b AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded_$b a JOIN banded_$b b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |), hit_$b AS (
         |  SELECT id_a FROM cand_$b JOIN truth USING (id_a, id_b)
         |)""".stripMargin
    def row(b: Int, r: Int): String =
      s"""SELECT $b AS bands, $r AS r,
         |  (SELECT count(*) FROM cand_$b) AS n_cand,
         |  (SELECT count(*) FROM hit_$b) AS n_hit,
         |  (SELECT count(*) FROM hit_$b) * 1000000
         |    // (SELECT count(*) FROM cand_$b) AS precision_ppm,
         |  (SELECT count(*) FROM hit_$b) * 1000000
         |    // (SELECT count(*) FROM truth) AS recall_ppm""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id < 100 AND len($toks) >= 8
       |), allv AS (
       |  SELECT doc_id, text FROM d
       |  UNION ALL
       |  SELECT doc_id + 100000,
       |    array_to_string(list_slice($toks, 1, greatest(len($toks) - 5, 3)), ' ')
       |  FROM d
       |), hs AS (
       |  SELECT doc_id, list_transform(
       |    list_transform(range(1, len($toks) - 1),
       |      sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + 2), ' ')),
       |    sh_s -> ${QueryBlocks.phSql("sh_s")}) AS hashes
       |  FROM allv
       |), shd AS (
       |  SELECT doc_id AS id, unnest(list_distinct(hashes)) AS sh FROM hs
       |), sizes AS (
       |  SELECT id, count(*) AS nsh FROM shd GROUP BY id
       |), hot AS (
       |  SELECT sh FROM shd GROUP BY sh HAVING count(*) > 1000
       |), shc AS (
       |  SELECT id, shd.sh FROM shd LEFT JOIN hot ON shd.sh = hot.sh
       |  WHERE hot.sh IS NULL
       |), tp AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2
       |), truth AS (
       |  SELECT id_a, id_b FROM tp
       |  JOIN sizes na ON id_a = na.id
       |  JOIN sizes nb ON id_b = nb.id
       |  WHERE CAST(inter AS DOUBLE) / (na.nsh + nb.nsh - inter) >= 0.5
       |), sg AS (
       |  SELECT doc_id, list_transform(range(0, 64), mh_i ->
       |    list_min(list_transform(hashes, mh_h ->
       |      (mh_h * (((2*mh_i + 1) * 2654435761) % 1000000007) + (40503*mh_i + 1)) % 1000000007))) AS sig
       |  FROM hs
       |), ${geom(16, 4)}, ${geom(8, 8)}, ${geom(4, 16)}
       |${row(16, 4)}
       |UNION ALL
       |${row(8, 8)}
       |UNION ALL
       |${row(4, 16)}
       |ORDER BY bands DESC""".stripMargin
  }

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q159_knn_accuracy", q159_knn_accuracy _, q159Sql),
    Query("q160_interarrival", q160_interarrival _, q160Sql),
    Query("q161_lsh_sweep", q161_lsh_sweep _, q161Sql)
  )
}
