package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Similarity, Winnowing}
import graft.ops.CoPurchase
import QueryBlocks.dotSql

/** Position-aware fingerprinting and hybrid
  * retrieval — the two curation primitives that sit directly on top of
  * operators already certified (q24's document hash, q124's BM25,
  * q30's cosine ranking).
  *
  *  - q126: winnowing (SIGMOD 2003 / MOSS) — guaranteed-recall partial-
  *    overlap fingerprints at 2/(w+1) density.
  *  - q127: reciprocal-rank fusion (Cormack, Clarke, Büttcher, SIGIR
  *    2009) of the BM25 lexical ranking with a cosine vector ranking —
  *    the standard hybrid-search combiner, integer-exact.
  */
object ExtensionQueries12 extends QueryGroup {

  // --------------------------------------------------------------- q126

  private val WinK = 8 // k-gram length (characters)
  private val WinW = 4 // winnowing window (hashes)

  /** q126: winnowed fingerprints of the documents table, rolled up per
    * document to an integer-exact summary (count, min/max, mod-p
    * checksum over hashes AND positions — the checksum pins every
    * selected (hash, pos) pair without emitting ~2n/(w+1) rows each).
    * The selection arithmetic (tie-break key, window minimum, decode)
    * is mirrored literally in the oracle; see [[graft.ext.Winnowing]].
    */
  def q126_winnow_fingerprints(s: SparkSession, dir: String): DataFrame =
    Winnowing.fingerprints(Tables.documents(s, dir), "doc_id", "text", WinK, WinW)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_fp"),
        min(col("fp")).as("fp_min"),
        max(col("fp")).as("fp_max"),
        expr("sum(fp) % 1000000007").as("fp_checksum"),
        sum(col("pos")).as("pos_sum"))
      .orderBy(col("doc_id"))

  val q126Sql: String = {
    val e = s"substring(text, pos, $WinK)"
    val ph = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($e)+1), ch_i -> CAST(ascii(substring($e, ch_i, 1)) AS BIGINT))), " +
      s"(ph_a, ph_b) -> (ph_a*31 + ph_b) % 1000000007)"
    val B = Winnowing.PosBase
    s"""WITH g AS (
       |  SELECT doc_id, length(text) - ${WinK - 1} AS ng,
       |    unnest(range(1, length(text) - ${WinK - 2})) AS pos, text
       |  FROM documents WHERE length(text) - ${WinK - 1} >= $WinW
       |), k AS (
       |  SELECT doc_id, ng, pos, ($ph + 1) * $B - pos AS key FROM g
       |), m AS (
       |  SELECT doc_id, ng, pos,
       |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |                   ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS win_min
       |  FROM k
       |), sel AS (
       |  SELECT DISTINCT doc_id, win_min FROM m WHERE pos <= ng - ${WinW - 1}
       |), fp AS (
       |  SELECT doc_id, win_min // $B AS fp,
       |    (win_min // $B + 1) * $B - win_min AS pos
       |  FROM sel
       |)
       |SELECT doc_id, count(*) AS n_fp, min(fp) AS fp_min, max(fp) AS fp_max,
       |  CAST(sum(fp) % 1000000007 AS BIGINT) AS fp_checksum,
       |  CAST(sum(pos) AS BIGINT) AS pos_sum
       |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q127

  private val RrfK = 60 // the SIGIR 2009 constant
  private val ListK = 50 // depth of each input ranking
  private val FusedK = 20

  /** q127: reciprocal-rank fusion of two retrieval lists over the same
    * corpus — q124's integer-exact BM25 top-50 (lexical) and the exact
    * cosine top-50 around probe vector 0 (q30's machinery; doc_id and
    * vec_id are the same key in the testdata). rrf_ppm =
    * Σ 1000000 div (60 + rank) over the lists that retrieved the doc —
    * exact integer arithmetic, so the fused ordering cross-engine
    * hashes. Docs in one list only keep a NULL rank on the other side
    * (full outer join), scoring 0 from it, per the original formula.
    *
    * Scale shape: both input rankings are bounded top-k artifacts
    * (TakeOrderedAndProject / per-probe windows — computed distributed,
    * ≤ k rows out), so the fusion itself joins two k-row frames: the
    * lexical rank is a count-of-better-rows broadcast self-join (k²
    * pairs on k = 50 — never a partition-less window), the fusion join
    * broadcasts, and the final top-k is again sort+limit.
    */
  def q127_rrf_fusion(s: SparkSession, dir: String): DataFrame = {
    val lex = ExtensionQueries11.q124_bm25_topk(s, dir)
      .select(col("doc_id"), col("score_ppm"))
    // rank = 1 + |{rows strictly before this one in (score DESC, id)}|
    val lexRanked = lex.as("a").join(
        broadcast(lex.as("b")),
        col("b.score_ppm") > col("a.score_ppm") ||
          (col("b.score_ppm") === col("a.score_ppm") &&
            col("b.doc_id") < col("a.doc_id")),
        "left")
      .groupBy(col("a.doc_id").as("doc_id"))
      .agg((count(col("b.doc_id")) + 1).as("rank_lex"))
    val vecRanked = Similarity.bruteForceTopK(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") === 0, ListK)
      .select(col("cand_id").as("doc_id"), col("rank").cast("long").as("rank_vec"))
    lexRanked.join(vecRanked, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
        (coalesce(expr(s"1000000L div ($RrfK + rank_lex)"), lit(0L)) +
          coalesce(expr(s"1000000L div ($RrfK + rank_vec)"), lit(0L))).as("rrf_ppm"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(FusedK)
  }

  val q127Sql: String = {
    val terms = ExtensionQueries11.Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |sn AS (SELECT sum(dl) AS s_tot, count(*) AS n_docs FROM dl),
       |dfreq AS (
       |  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
       |), tf AS (
       |  SELECT doc_id, tok, count(*) AS tf FROM toks
       |  WHERE tok IN ($terms) GROUP BY doc_id, tok
       |), bm AS (
       |  SELECT t.doc_id, sum(
       |    (CAST(length(bin(n_docs)) - length(bin(df)) AS BIGINT) *
       |     (22 * tf * s_tot * 1000000)) //
       |    (10 * tf * s_tot + 3 * s_tot + 9 * dl.dl * n_docs)
       |  ) AS score_ppm
       |  FROM tf t JOIN dfreq USING (tok) JOIN dl ON dl.doc_id = t.doc_id
       |  CROSS JOIN sn GROUP BY t.doc_id
       |), bm_top AS (
       |  SELECT doc_id, score_ppm FROM bm
       |  ORDER BY score_ppm DESC, doc_id LIMIT $ListK
       |), lex AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY score_ppm DESC, doc_id) AS rank_lex
       |  FROM bm_top
       |), p AS (
       |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0
       |), cos AS (
       |  SELECT vec_id AS doc_id,
       |    ${dotSql("pv", "embedding")} /
       |      (sqrt(${dotSql("pv", "pv")}) * sqrt(${dotSql("embedding", "embedding")})) AS cos
       |  FROM embeddings CROSS JOIN p WHERE vec_id <> 0
       |), vec AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_vec
       |  FROM cos ORDER BY cos DESC, doc_id LIMIT $ListK
       |)
       |SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id, rank_lex, rank_vec,
       |  COALESCE(1000000 // ($RrfK + rank_lex), 0) +
       |    COALESCE(1000000 // ($RrfK + rank_vec), 0) AS rrf_ppm
       |FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
       |ORDER BY rrf_ppm DESC, doc_id LIMIT $FusedK""".stripMargin
  }

  // --------------------------------------------------------------- q128

  /** Star-contraction round-pair budget: the co-purchase graph's
    * assignment certificate turns TRUE at round 3 at sf0.1 (measured:
    * rounds 2→3 stable, 1→2 not; one giant component) and within 4 at
    * sf0.01 — see PLANS.md. 4 carries the O(log n) headroom the SoCC
    * 2014 bound prescribes for the sf1 rung.
    */
  private val CcRounds = 4

  /** q128: connected components of the co-purchase graph (same edge set
    * as q74's PageRank) by alternating large-star/small-star
    * contraction — the O(log n)-round CC next to q42's
    * diameter-round min-label propagation. The oracle recomputes
    * components EXACTLY via a recursive-CTE reachability closure and
    * pins `converged` TRUE, certifying the round budget the same way
    * q107/q120 certify theirs.
    */
  def q128_cc_stars(s: SparkSession, dir: String): DataFrame = {
    val edges = CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 1)
      .select(col("part_a").as("src"), col("part_b").as("dst"))
    val nodes = Tables.part(s, dir).select(col("p_partkey").as("id"))
    graft.ops.StarContract.run(edges, nodes, CcRounds)
      .select(col("id").as("part_key"), col("comp"), col("converged"))
      .orderBy(col("part_key"))
  }

  /** Oracle round budget. The mirror (below) alternates neighbor-min with
    * pointer jumping (label-of-label), so label depth halves per round —
    * convergence in O(log diameter) rounds. 6 covers diameter ≤ 2⁶; the
    * co-purchase graph's giant component measures diameter ≤ 6 at both
    * SFs. NOT pinned blind: the mirror computes `converged` from its own
    * final labels (no boundary edge with differing labels), so an
    * insufficient budget hash-mismatches against the Spark TRUE instead
    * of silently agreeing.
    */
  private val CcOracleRounds = 6

  /** Bounded-iteration mirror. A recursive-CTE closure would materialize `reach` = all (node, reachable)
    * pairs — O(n²) rows on a giant component (>35 min in DuckDB at
    * sf0.1 while Spark finishes in seconds). This form runs the SAME algorithm the
    * Spark side runs — min-label propagation with path compression —
    * as [[CcOracleRounds]] unrolled CTE pairs, each O(|E|): per round,
    * every node takes the min of its own and its neighbors' labels, then
    * jumps to its label's label. Converged labels are exactly the
    * per-component minima (labels only decrease, always name a node in
    * the same component, and edge-stability forces them uniform — the
    * uniform value must equal the component min).
    *
    * Every multiply-referenced CTE is MATERIALIZED: DuckDB inlines plain
    * CTEs at each reference site, and with each round referencing the
    * previous twice the inlined tree doubles per round — 2^(2·rounds)
    * scans (measured: fd exhaustion before any row). Materialized, each
    * round costs one O(|E|) pass: 3.5 s at sf0.1 vs the closure's
    * >35 min.
    */
  val q128Sql: String = {
    val rounds = (1 to CcOracleRounds).map { k =>
      s"""m$k AS MATERIALIZED (
         |  SELECT l.id, least(l.lbl, coalesce(min(n.lbl), l.lbl)) AS lbl
         |  FROM l${k - 1} l
         |  LEFT JOIN e0 e ON e.u = l.id
         |  LEFT JOIN l${k - 1} n ON n.id = e.v
         |  GROUP BY l.id, l.lbl
         |), l$k AS MATERIALIZED (
         |  SELECT a.id, b.lbl FROM m$k a JOIN m$k b ON b.id = a.lbl
         |)""".stripMargin
    }.mkString(", ")
    val last = s"l$CcOracleRounds"
    s"""WITH lp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       |), e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lp a JOIN lp b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |), l0 AS MATERIALIZED (
       |  SELECT p_partkey AS id, p_partkey AS lbl FROM part
       |), $rounds, conv AS (
       |  SELECT count(*) = 0 AS c
       |  FROM e0
       |  JOIN $last x ON x.id = e0.u
       |  JOIN $last y ON y.id = e0.v
       |  WHERE x.lbl <> y.lbl
       |)
       |SELECT l.id AS part_key, l.lbl AS comp, conv.c AS converged
       |FROM $last l CROSS JOIN conv
       |ORDER BY part_key""".stripMargin
  }

  val entries: Seq[Query] = Seq(
    Query("q126_winnow_fingerprints", q126_winnow_fingerprints _, q126Sql),
    Query("q127_rrf_fusion", q127_rrf_fusion _, q127Sql),
    Query("q128_cc_stars", q128_cc_stars _, q128Sql)
  )
}
