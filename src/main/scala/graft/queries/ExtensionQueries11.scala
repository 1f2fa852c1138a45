package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{SetSimJoin, SortedNeighborhood}
import graft.ops.{CoPurchase, LinkPredict}
import QueryBlocks.{JaccPpm, MinOverlap, shingles3, tokCte}

/** The remaining classical candidate-generation
  * schemes around the exact set join — absolute-overlap/containment
  * (q116, the T-occurrence member of the prefix family), sorted-
  * neighborhood blocking (q117, the sort-based scheme that needs no
  * similarity structure), and common-neighbor link prediction (q118,
  * wedge counting on the co-purchase graph, the graph tier's
  * predictive member next to PageRank/triangles/k-core).
  *
  * Every oracle here is the BARE relational form (no prefix ranks, no
  * blocking artifacts) — green rows prove each scheme's pruning is
  * result-invisible, the same proof shape as q98/q109.
  */
object ExtensionQueries11 extends QueryGroup {

  // --------------------------------------------------------------- q116

  /** q116: absolute-overlap join ([[graft.ext.SetSimJoin.overlapJoin]])
    * at |A∩B| ≥ 20 shared 3-shingles — the containment detector (quote /
    * excerpt reuse, train-eval contamination): a RATIO containment
    * threshold has no symmetric prefix scheme, an absolute floor does,
    * so the scale path is overlap-first, exact containment ppm on the
    * survivors. The oracle is the bare inverted-index join with a
    * HAVING floor — prefix + positional pruning must be invisible.
    */
  def q116_overlap_join(s: SparkSession, dir: String): DataFrame =
    SetSimJoin.overlapJoin(shingles3(s, dir), "doc_id", "sh", MinOverlap)
      .orderBy(col("id_a"), col("id_b"))

  val q116Sql: String =
    s"""WITH $tokCte,
       |sz AS (SELECT id, count(*) AS s FROM tok GROUP BY id),
       |p AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
       |  GROUP BY 1, 2 HAVING count(*) >= $MinOverlap
       |)
       |SELECT id_a, id_b, inter, x.s AS sa, y.s AS sb,
       |  inter * 1000000 // x.s AS cont_a_ppm,
       |  inter * 1000000 // y.s AS cont_b_ppm
       |FROM p JOIN sz x ON x.id = p.id_a JOIN sz y ON y.id = p.id_b
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- q125

  private val ContainFloor = 80

  /** q125: [[q116_overlap_join]]'s operator in its PREFIX-PRUNED regime
    * — the containment floor o=80 against a median set size of 52
    * shingles means most sets index NOTHING (s < o ⇒ |A∩B| < o
    * structurally) and the rest index only `s − 79` rare shingles.
    * Measured contrast at the sf0.1→sf1x rung: o=20 keeps `s − 19` of
    * a 52-median set (~63%) indexed and pays a hot-shingle candidate
    * blowup (k = 1.28); o=80's prefixes vanish for most sets and the
    * same operator goes sublinear. The pair of rows documents the
    * regime boundary the operator's scaladoc prescribes.
    */
  def q125_overlap_contain(s: SparkSession, dir: String): DataFrame =
    SetSimJoin.overlapJoin(shingles3(s, dir), "doc_id", "sh", ContainFloor)
      .orderBy(col("id_a"), col("id_b"))

  val q125Sql: String =
    s"""WITH $tokCte,
       |sz AS (SELECT id, count(*) AS s FROM tok GROUP BY id),
       |p AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
       |  GROUP BY 1, 2 HAVING count(*) >= $ContainFloor
       |)
       |SELECT id_a, id_b, inter, x.s AS sa, y.s AS sb,
       |  inter * 1000000 // x.s AS cont_a_ppm,
       |  inter * 1000000 // y.s AS cont_b_ppm
       |FROM p JOIN sz x ON x.id = p.id_a JOIN sz y ON y.id = p.id_b
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- q117

  private val SnmW = 8
  private val SnmPrefixLen = 24

  /** q117: two-pass sorted-neighborhood dedup
    * ([[graft.ext.SortedNeighborhood]]) — candidates from rank windows
    * of w=8 under two independent blocking orders ((lang, n_chars) and
    * a 24-char text prefix; one pass alone catches 6/25 true pairs on
    * this corpus, the union all 25 — the multi-pass remedy the SNM
    * literature prescribes), verified by candidate-scoped exact Jaccard
    * at t=0.6. Output = exactly q109's 25 pairs through a completely
    * different candidate scheme: sort-based blocking vs prefix
    * filtering, agreeing bit-for-bit.
    */
  def q117_snm_dedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val p1 = SortedNeighborhood.candidatePairs(d, "doc_id", SnmW, 32,
      col("lang"), col("n_chars"), col("doc_id"))
    val p2 = SortedNeighborhood.candidatePairs(d, "doc_id", SnmW, 32,
      substring(col("text"), 1, SnmPrefixLen), col("doc_id"))
    val cand = p1.union(p2)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    // candidate-scoped verification, never a token-level equi-join
    // (cand ⋈ tok(id_a) would explode each pair by |set(id_a)| and
    // re-shuffle that probe stream by (id_b, tok); OPTIMIZATION_r19.md).
    // SNM candidates are LINEAR in the corpus (w·n exactly, vs the
    // data-dependent collision streams of the prefix family), so the
    // per-doc shingle sets fit one array row each and the intersection
    // is computable pair-locally: build each doc's distinct-shingle
    // array once, attach both arrays to each candidate pair (two hash
    // joins on id — AQE-handleable, no token fan-out), and count with
    // array_intersect. inter/sa/sb are identical by construction (both
    // arrays are distinct, array_intersect returns the common distinct
    // elements); only counts leave the pair row, so result bits match
    // the old shape and the oracle exactly. Shuffle records drop from
    // Σ_pairs |set| to w·n.
    val docArr = shingles3(s, dir)
      .groupBy(col("doc_id").as("__id"))
      .agg(array_distinct(collect_list(col("sh"))).as("arr"))
    cand
      .join(docArr.select(col("__id").as("id_a"), col("arr").as("arr_a")), Seq("id_a"))
      .join(docArr.select(col("__id").as("id_b"), col("arr").as("arr_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long").as("inter"),
        size(col("arr_a")).cast("long").as("sa"),
        size(col("arr_b")).cast("long").as("sb"))
      .withColumn("union_sz", col("sa") + col("sb") - col("inter"))
      .filter(col("inter") * 1000000L >= lit(JaccPpm) * col("union_sz"))
      .select(col("id_a"), col("id_b"), col("inter"), col("union_sz"),
        expr("inter * 1000000L div union_sz").as("jacc_ppm"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q117Sql: String =
    s"""WITH
       |r1 AS (SELECT doc_id, row_number() OVER (ORDER BY lang, n_chars, doc_id) AS rk
       |       FROM documents),
       |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY substring(text, 1, $SnmPrefixLen), doc_id) AS rk
       |       FROM documents),
       |c1 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |       FROM r1 a JOIN r1 b ON b.rk > a.rk AND b.rk <= a.rk + $SnmW),
       |c2 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |       FROM r2 a JOIN r2 b ON b.rk > a.rk AND b.rk <= a.rk + $SnmW),
       |cand AS (SELECT DISTINCT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b
       |         FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)),
       |$tokCte,
       |sz AS (SELECT id, count(*) AS s FROM tok GROUP BY id),
       |it AS (
       |  SELECT c.id_a, c.id_b, x.s AS sa, y.s AS sb, count(*) AS inter
       |  FROM cand c
       |  JOIN tok a ON a.id = c.id_a
       |  JOIN tok b ON b.id = c.id_b AND b.tok = a.tok
       |  JOIN sz x ON x.id = c.id_a JOIN sz y ON y.id = c.id_b
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT id_a, id_b, inter, sa + sb - inter AS union_sz,
       |  inter * 1000000 // (sa + sb - inter) AS jacc_ppm
       |FROM it WHERE inter * 1000000 >= $JaccPpm * (sa + sb - inter)
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- q118

  private val MaxCenterDeg = 64
  private val MinCommon = 2

  /** q118: common-neighbor link prediction
    * ([[graft.ops.LinkPredict.commonNeighbors]]) over the q106/q107
    * support-≥2 co-purchase graph — for every part pair NOT already
    * co-purchased, the number of shared co-purchase partners (≥ 2) and
    * the preferential-attachment product: "customers who bought these
    * also bought…" as exact integer wedge counting. The center-degree
    * cap (64; max degree here is 13, so it never binds on this corpus —
    * the cap's pruning is pinned on a hand graph in the spec) is part of
    * the operator contract, applied identically in the oracle.
    */
  def q118_link_predict(s: SparkSession, dir: String): DataFrame = {
    val edges = CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 2)
      .select(col("part_a"), col("part_b"))
    LinkPredict.commonNeighbors(edges, "part_a", "part_b", MaxCenterDeg, MinCommon)
      .orderBy(col("id_a"), col("id_b"))
  }

  val q118Sql: String =
    s"""WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lp a JOIN lp b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2
       |), adj AS (SELECT u AS ctr, v AS nb FROM e UNION ALL SELECT v, u FROM e),
       |deg AS (SELECT ctr, count(*) AS deg FROM adj GROUP BY ctr),
       |small AS (SELECT a.ctr, a.nb FROM adj a
       |          JOIN deg d ON a.ctr = d.ctr AND d.deg <= $MaxCenterDeg),
       |w AS (SELECT a.nb AS id_a, b.nb AS id_b
       |      FROM small a JOIN small b ON a.ctr = b.ctr AND a.nb < b.nb),
       |cn AS (SELECT id_a, id_b, count(*) AS n_common FROM w
       |       GROUP BY 1, 2 HAVING count(*) >= $MinCommon),
       |miss AS (SELECT cn.id_a, cn.id_b, cn.n_common FROM cn
       |         LEFT JOIN e ON cn.id_a = e.u AND cn.id_b = e.v
       |         WHERE e.u IS NULL)
       |SELECT m.id_a, m.id_b, m.n_common, da.deg * db.deg AS pa_score
       |FROM miss m
       |JOIN deg da ON da.ctr = m.id_a JOIN deg db ON db.ctr = m.id_b
       |ORDER BY m.id_a, m.id_b""".stripMargin

  // --------------------------------------------------------------- q120

  /** LPA round budget: the self-voting run reaches its exact fixpoint by
    * round 7 on the sf0.01 graph (measured); 10 leaves slack, and the
    * `converged` flag certifies it in the artifact.
    */
  val LpaRounds = 10

  private val copurchaseEdgesSql: String =
    """lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lp a JOIN lp b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2
      |)""".stripMargin

  /** q120: synchronous label-propagation communities
    * ([[graft.ops.LabelProp]]) over the q106/q107/q118 co-purchase
    * graph — 10 deterministic self-voting rounds, min-label tiebreak,
    * convergence certified by the oracle (the DuckDB mirror unrolls all
    * 10 rounds as MATERIALIZED CTEs, the q107 pattern, and pins
    * `converged` TRUE by comparing rounds 9 and 10).
    */
  def q120_label_prop(s: SparkSession, dir: String): DataFrame = {
    val edges = CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 2)
      .select(col("part_a"), col("part_b"))
    graft.ops.LabelProp.propagate(edges, "part_a", "part_b", LpaRounds)
      .orderBy(col("node"))
  }

  val q120Sql: String = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT t.node, t.label, count(*) AS c,
         |      row_number() OVER (PARTITION BY t.node
         |        ORDER BY count(*) DESC, t.label ASC) AS rn
         |    FROM (
         |      SELECT a.node, l.label FROM adj a JOIN l${r - 1} l ON l.node = a.nb
         |      UNION ALL
         |      SELECT node, label FROM l${r - 1}
         |    ) t
         |    GROUP BY t.node, t.label
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $copurchaseEdgesSql,
       |adj AS MATERIALIZED (SELECT u AS node, v AS nb FROM e UNION ALL SELECT v, u FROM e),
       |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM adj),
       |$rounds,
       |sizes AS (SELECT label, count(*) AS csize FROM l$LpaRounds GROUP BY label),
       |chg AS (SELECT count(*) AS n FROM l$LpaRounds a
       |        JOIN l${LpaRounds - 1} b ON a.node = b.node AND a.label <> b.label)
       |SELECT l.node, l.label AS community, s.csize, chg.n = 0 AS converged
       |FROM l$LpaRounds l JOIN sizes s USING (label) CROSS JOIN chg
       |ORDER BY l.node""".stripMargin
  }

  // --------------------------------------------------------------- q121

  /** q121: ordered 3-step funnel (view → click → purchase) — for each
    * user the earliest chain timestamps: first view, first click
    * STRICTLY AFTER that view, first purchase strictly after that
    * click, and the stage reached. Extends q63's 2-step
    * view→purchase/conversion-window form to the general k-step
    * sequential-min chain: one conditional aggregate per stage, every
    * aggregate and join keyed on user_id (one partitioning reused
    * end-to-end — co-partitioned at any scale). Exact µs integer time
    * math (the q77/q86 contract).
    */
  def q121_funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("us") > col("v_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("us") > col("c_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
    ev.select(col("user_id")).distinct()
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("v_us"), col("c_us"), col("p_us"),
        when(col("p_us").isNotNull, 3).when(col("c_us").isNotNull, 2)
          .when(col("v_us").isNotNull, 1).otherwise(0).as("stage"))
      .orderBy(col("user_id"))
  }

  val q121Sql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS v_us FROM ev WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.us) AS c_us FROM ev e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.us > v.v_us GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.us) AS p_us FROM ev e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.us > c.c_us GROUP BY 1)
      |SELECT u.user_id, v.v_us, c.c_us, p.p_us,
      |  CASE WHEN p.p_us IS NOT NULL THEN 3 WHEN c.c_us IS NOT NULL THEN 2
      |       WHEN v.v_us IS NOT NULL THEN 1 ELSE 0 END AS stage
      |FROM (SELECT DISTINCT user_id FROM ev) u
      |LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |ORDER BY u.user_id""".stripMargin

  // --------------------------------------------------------------- q122

  /** q122: event-type transition matrix — per user, consecutive event
    * pairs under the (ts, event_id) total order, counted globally: the
    * Markov-chain view of the event log (and the path-analysis
    * primitive behind "what happens after an error?"). One
    * user-partitioned lead window (never a global sort) + one
    * map-combined count.
    */
  def q122_transitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q122Sql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_type
      |  FROM events
      |)
      |SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      |FROM seq WHERE next_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q124

  /** The fixed retrieval query (a rare discriminative term + two common
    * ones — df('dup') = 25 of 500 docs at sf0.01 carries 4 idf bits
    * while saturated common terms contribute 0).
    */
  val Bm25Query: Seq[String] = Seq("dup", "spark", "query")

  /** q124: BM25-style retrieval scoring, integer-exact — the
    * query-relevance primitive behind search-based corpus curation
    * ("keep documents matching these probe queries"). Standard BM25
    * with k1 = 1.2, b = 0.75 re-expressed as exact rationals:
    *
    *   term = idf_bits · (22·tf·S) div (10·tf·S + 3·S + 9·dl·N)
    *
    * (numerator and denominator of tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * multiplied through by 10·S, avgdl = S/N), with idf_bits =
    * len(bin(N)) − len(bin(df)) ≈ log₂(N/df) — the q105 integer idf
    * surrogate, since a float ln() would not cross-engine hash. Bound:
    * idf_bits·22·tf·S·10⁶ must fit a long — S·tf·2.2×10⁸ < 2⁶³, fine
    * to ~10¹⁰ total corpus tokens per shard.
    *
    * Scale shape: df and the (S, N) scalar are one map-combined
    * aggregate each (1-row broadcast); tf filters to the query's terms
    * BEFORE grouping (the scan prunes everything else); per-doc fold
    * keys on doc_id; top-k is sort+limit (TakeOrderedAndProject, never
    * a global window).
    */
  def q124_bm25_topk(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val sn = dl.agg(sum(col("dl")).as("s_tot"), count(lit(1)).as("n_docs"))
    val dfreq = toks.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val tf = toks.filter(col("tok").isin(Bm25Query: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    tf.join(broadcast(dfreq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(sn)) // 1-row scalar fan-out
      .withColumn("idf_bits",
        (length(bin(col("n_docs"))) - length(bin(col("df")))).cast("long"))
      .select(col("doc_id"),
        expr("idf_bits * (22L * tf * s_tot * 1000000L) div " +
          "(10L * tf * s_tot + 3L * s_tot + 9L * dl * n_docs)").as("term_ppm"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_ppm")).as("score_ppm"), count(lit(1)).as("n_hit_terms"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(50)
  }

  val q124Sql: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |sn AS (SELECT sum(dl) AS s_tot, count(*) AS n_docs FROM dl),
       |dfreq AS (
       |  SELECT tok, count(*) AS df
       |  FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok
       |), tf AS (
       |  SELECT doc_id, tok, count(*) AS tf FROM toks
       |  WHERE tok IN $terms GROUP BY 1, 2
       |), terms AS (
       |  SELECT t.doc_id,
       |    (CAST(len(bin(sn.n_docs)) - len(bin(f.df)) AS BIGINT) *
       |     (22 * t.tf * sn.s_tot * 1000000)) //
       |    (10 * t.tf * sn.s_tot + 3 * sn.s_tot + 9 * d.dl * sn.n_docs) AS term_ppm
       |  FROM tf t JOIN dfreq f USING (tok) JOIN dl d USING (doc_id) CROSS JOIN sn
       |)
       |SELECT doc_id, CAST(sum(term_ppm) AS BIGINT) AS score_ppm, count(*) AS n_hit_terms
       |FROM terms GROUP BY doc_id
       |ORDER BY score_ppm DESC, doc_id LIMIT 50""".stripMargin
  }

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q116_overlap_join", q116_overlap_join _, q116Sql),
    Query("q117_snm_dedup", q117_snm_dedup _, q117Sql),
    Query("q118_link_predict", q118_link_predict _, q118Sql),
    Query("q120_label_prop", q120_label_prop _, q120Sql),
    Query("q121_funnel", q121_funnel _, q121Sql),
    Query("q122_transitions", q122_transitions _, q122Sql),
    Query("q124_bm25_topk", q124_bm25_topk _, q124Sql),
    Query("q125_overlap_contain", q125_overlap_contain _, q125Sql)
  )
}
