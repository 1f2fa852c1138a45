package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.SetSimJoin
import graft.ops.{CoPurchase, KCore}
import QueryBlocks.JaccPpm

/** K-core decomposition (graph family) and the
  * prefix-filtered exact similarity join (dedup/similarity family).
  */
object ExtensionQueries9 extends QueryGroup {

  // --------------------------------------------------------------- q107

  private val CoreK = 3

  /** Synchronous peeling needs 11 rounds to reach the fixpoint on the
    * sf0.01 co-purchase graph (measured; sf0.1 needs 3 — its support≥2
    * graph is relatively sparser and the 3-core is empty). 12 gives one
    * round of slack; the certified `converged` flag turns the row red if
    * a corpus ever needs more.
    */
  val CoreRounds = 12

  /** q107: k-core decomposition ([[graft.ops.KCore]]) of the q80
    * co-purchase graph (support ≥ 2 edges) at k=3 — one row per node
    * with its original degree, peel round (0 = core member), final
    * in-core degree, and a `converged` certification that the fixpoint
    * was reached inside the [[CoreRounds]]-round budget (the oracle
    * unrolls the same number of synchronous peeling rounds and pins the
    * flag TRUE).
    */
  def q107_kcore(s: SparkSession, dir: String): DataFrame = {
    val edges = CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 2)
      .select(col("part_a"), col("part_b"))
    KCore.decompose(edges, "part_a", "part_b", CoreK, CoreRounds)
      .orderBy(col("node"))
  }

  /** Unrolled mirror: one (degree → peel → node-set → edge-set) CTE
    * quartet per round, the q29/q99 generated-SQL precedent. Every
    * multiply-referenced CTE is `AS MATERIALIZED` — each round
    * references its predecessor twice, so DuckDB's default inlining
    * would expand the 12-round chain exponentially (observed as a
    * file-handle explosion on the base scan).
    */
  val q107Sql: String = {
    val k = CoreK
    val rounds =
      (1 to CoreRounds).map { r =>
        val (ep, np) = (s"e${r - 1}", s"n${r - 1}")
        s"""d$r AS MATERIALIZED (
           |  SELECT n.node, coalesce(dd.deg, 0) AS deg
           |  FROM $np n LEFT JOIN (
           |    SELECT node, count(*) AS deg
           |    FROM (SELECT u AS node FROM $ep UNION ALL SELECT v FROM $ep)
           |    GROUP BY node) dd USING (node)
           |), p$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg < $k
           |), n$r AS MATERIALIZED (SELECT node FROM $np WHERE node NOT IN (SELECT node FROM p$r)
           |), e$r AS MATERIALIZED (
           |  SELECT u, v FROM $ep
           |  WHERE u NOT IN (SELECT node FROM p$r)
           |    AND v NOT IN (SELECT node FROM p$r)
           |)""".stripMargin
      }.mkString(",\n")
    val peeled = (1 to CoreRounds)
      .map(r => s"SELECT node, $r AS peel_round FROM p$r").mkString("\n  UNION ALL ")
    s"""WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lp a JOIN lp b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2
       |), d0 AS MATERIALIZED (
       |  SELECT node, count(*) AS deg
       |  FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
       |  GROUP BY node
       |), n0 AS MATERIALIZED (SELECT node FROM d0),
       |$rounds,
       |peeled AS (
       |  $peeled
       |), coredeg AS (
       |  SELECT node, count(*) AS deg
       |  FROM (SELECT u AS node FROM e$CoreRounds UNION ALL SELECT v FROM e$CoreRounds)
       |  GROUP BY node
       |), last AS (SELECT count(*) AS lastp FROM p$CoreRounds)
       |SELECT d0.node, d0.deg AS deg0,
       |  coalesce(p.peel_round, 0) AS peel_round,
       |  (coalesce(p.peel_round, 0) = 0) AS in_core,
       |  coalesce(c.deg, 0) AS core_deg,
       |  (last.lastp = 0) AS converged
       |FROM d0 LEFT JOIN peeled p USING (node)
       |LEFT JOIN coredeg c USING (node)
       |CROSS JOIN last
       |ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- q109

  /** q109: prefix-filtered EXACT Jaccard similarity self-join
    * ([[graft.ext.SetSimJoin]]) over 3-shingle sets at t=0.6 — the
    * PPJoin-style scale path for the exact join: only the rarest
    * ~41% of shingles (each set's frequency-ordered prefix) are ever
    * indexed, candidates come from prefix collisions, and the exact
    * integer Jaccard verifies. ExtensionQueries9Spec pins completeness
    * against the naive full-index join; the oracle replays prefix
    * construction, candidates, and verification bit-exactly.
    *
    * REGIME BOUND (SetSimAudit, sf0.01 → sf0.1): sets ×10.0,
    * prefix rows ×9.96 (linear), but prefix-collision pairs ×340
    * (601 → 204,116) and positional-filter survivors ×2,656
    * (25 → 66,406) while TRUE output pairs grow only ×10.2 (25 → 256).
    * Root cause, same law as q116: the synthetic corpus's shingle
    * vocabulary SATURATES at this scale, so each prefix token's posting
    * list grows ∝ n and collision pairs grow ∝ Σ c_tok² ≈ n² — a
    * property of the CORPUS (Heaps-law tail at tiny scale), not of the
    * plan; no completeness-preserving filter can shrink the collision
    * join below Σ c² (the prefix theorem needs every same-token pair
    * probed). On real corpora vocabulary grows with n (Heaps β≈0.5) and
    * the regime is sub-quadratic; where it isn't, the engine's
    * sub-linear paths are q29's banded LSH (probabilistic) and q26's
    * frequency-capped index (bounded recall on hot shingles). kc≈0.88
    * at the 10× rung is this candidate law amortized against the
    * linear stages — expected to keep creeping on saturated-vocabulary
    * corpora; measure `runMain graft.SetSimAudit` per rung before
    * concluding a plan regression.
    */
  def q109_prefix_jaccard(s: SparkSession, dir: String): DataFrame =
    ppjoinPairsStaged(s, dir)
      // exact: jacc_ppm ≥ t ⟺ inter·10⁶ ≥ t·union for integer t
      // (⌊a/b⌋ ≥ t ⟺ a ≥ t·b), and every J ≥ 0.6 pair is a J ≥ 0.5
      // pair, so filtering the staged t = 0.5 frame reproduces the
      // t = 0.6 join bit-exactly
      .filter(col("jacc_ppm") >= JaccPpm)
      .orderBy(col("id_a"), col("id_b"))

  /** Threshold of the SHARED staged pair frame: the lowest threshold any
    * consumer needs (q457's policy grid starts at 0.5; q464/q478 join at
    * 0.5; q109's 0.6 filters down from it). */
  private val MemoTPpm = 500000L

  /** Registered names of the queries that replay [[ppjoinPairsStaged]]
    * after the first consumer computes — Bench lists these under
    * "memoized" so a reader doesn't mistake a staged-parquet replay time
    * for the PPJoin generator's cost (the q42-family convention). */
  val ppjoinMemoizedQueries: Seq[String] = Seq(
    "q109_prefix_jaccard", "q457_dedup_threshold_sweep",
    "q464_minhash_calibration", "q478_dup_locality")

  /** q457/q464/q478 read the SAME `jaccardJoin(q109Shingles, t=0.5)`
    * frame q109 filters; recomputed per consumer it cost ~25–30 s of
    * every sf0.1 bench run. First consumer
    * computes and stages via [[graft.core.StagedMemo]] (the pair frame is
    * DATA-PROPORTIONAL, so it is a disk-backed materialized intermediate,
    * never a driver collect — see StagedMemo's header for the two memo
    * disciplines); the rest (and repeat runs) scan the staged parquet.
    * Oracle mirrors still re-derive the full CTE chain, so every consumer
    * stays independently hash-checked.
    */
  private[queries] def ppjoinPairsStaged(s: SparkSession, dir: String,
      tPpm: Long = MemoTPpm): DataFrame =
    graft.core.StagedMemo.stage(s, "ppjoin", dir, "documents.parquet",
      variant = "t" + tPpm) {
      SetSimJoin.jaccardJoin(q109Shingles(s, dir), "doc_id", "sh", tPpm)
    }

  /** Drop every staged frame — for callers that rewrite
    * `documents.parquet` in place without an mtime tick. */
  def invalidatePpjoinMemo(): Unit = graft.core.StagedMemo.invalidate()

  /** q109's (doc_id, 3-shingle) element frame — shared with
    * [[graft.SetSimAudit]] so the candidate-growth audit counts the
    * exact frames the query joins.
    */
  private[graft] def q109Shingles(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val toks = split(col("text"), " ")
    d.filter(size(toks) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(toks) - 3),
          i => array_join(slice(toks, i + 1, lit(3)), " "))).as("sh"))
  }

  private[graft] def q109Threshold: Long = JaccPpm

  val q109Sql: String = {
    val toks = "string_split(text, ' ')"
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id AS id,
       |    unnest(list_transform(range(1, len($toks) - 1),
       |      sh_i -> array_to_string(list_slice($toks, sh_i, sh_i + 2), ' '))) AS tok
       |  FROM documents WHERE len($toks) >= 3
       |), freq AS (
       |  SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
       |), rk AS (
       |  SELECT t.id, t.tok,
       |    row_number() OVER (PARTITION BY t.id ORDER BY f.cnt, t.tok) AS rn,
       |    count(*) OVER (PARTITION BY t.id) AS s
       |  FROM tok t JOIN freq f USING (tok)
       |), pre AS (
       |  SELECT id, tok, s, rn FROM rk
       |  WHERE rn <= s - ((s * $JaccPpm + 999999) // 1000000) + 1
       |), cand AS (
       |  -- group-by = pair dedup; m/pa/pb feed the PPJoin positional
       |  -- filter (|A∩B| <= m + least(sa-pa, sb-pb), cross-multiplied
       |  -- against the overlap floor t*(sa+sb)/(1+t))
       |  SELECT id_a, id_b, sa, sb FROM (
       |    SELECT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb,
       |      count(*) AS m, max(a.rn) AS pa, max(b.rn) AS pb
       |    FROM pre a JOIN pre b ON a.tok = b.tok AND a.id < b.id
       |      AND $JaccPpm * greatest(a.s, b.s) <= 1000000 * least(a.s, b.s)
       |    GROUP BY 1, 2, 3, 4)
       |  WHERE (m + least(sa - pa, sb - pb)) * (1000000 + $JaccPpm)
       |    >= $JaccPpm * (sa + sb)
       |), sets AS (
       |  SELECT id, list(tok) AS elems FROM tok GROUP BY id
       |), it AS (
       |  SELECT c.id_a, c.id_b, c.sa, c.sb,
       |    CAST(len(list_intersect(x.elems, y.elems)) AS BIGINT) AS inter
       |  FROM cand c
       |  JOIN sets x ON x.id = c.id_a
       |  JOIN sets y ON y.id = c.id_b
       |)
       |SELECT id_a, id_b, inter, sa + sb - inter AS union_sz,
       |  (inter * 1000000) // (sa + sb - inter) AS jacc_ppm
       |FROM it WHERE inter * 1000000 >= $JaccPpm * (sa + sb - inter)
       |ORDER BY id_a, id_b""".stripMargin
  }

  // --------------------------------------------------------------- q110

  private val CdcWindow = 4
  private val CdcMask = 16

  /** q110: content-defined chunking + chunk dedup
    * ([[graft.ext.CdcChunk]]) — rolling 4-token polyhash windows cut a
    * chunk wherever `hash % 16 == 0`, so identical content re-aligns
    * and dedups regardless of where it sits in the document (the
    * shift-robust complement of q73's fixed windows and q103's exact
    * spans). Per document: chunk count, chunks already owned by a
    * smaller-id document, and the tokens those duplicate chunks hold.
    */
  def q110_cdc_chunks(s: SparkSession, dir: String): DataFrame =
    graft.ext.CdcChunk.dedupChunks(Tables.documents(s, dir), "doc_id", "text",
        CdcWindow, CdcMask)
      .orderBy(col("doc_id"))

  val q110Sql: String = {
    val toks = "string_split(text, ' ')"
    val sh = s"array_to_string(list_slice($toks, sh_i, sh_i + ${CdcWindow - 1}), ' ')"
    s"""WITH t AS (
       |  SELECT doc_id, $toks AS toks, text FROM documents
       |), win AS (
       |  SELECT doc_id,
       |    unnest(range(0, len(toks) - ${CdcWindow - 1})) AS wpos,
       |    unnest(list_transform(range(1, len(toks) - ${CdcWindow - 2}),
       |      sh_i -> ${QueryBlocks.phSql(sh)})) AS h
       |  FROM t
       |), cuts AS (
       |  SELECT doc_id, wpos + $CdcWindow AS pos, 1 AS is_cut,
       |    CAST(NULL AS VARCHAR) AS tok
       |  FROM win WHERE h % $CdcMask = 0
       |), tk AS (
       |  SELECT doc_id, unnest(range(0, len(toks))) AS pos, 0 AS is_cut,
       |    unnest(toks) AS tok
       |  FROM t
       |), m AS (
       |  SELECT * FROM tk UNION ALL SELECT * FROM cuts
       |), c AS (
       |  SELECT doc_id, pos, is_cut, tok,
       |    SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY pos, is_cut DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
       |  FROM m
       |), ch AS (
       |  SELECT doc_id, chunk_id, count(*) AS n_toks,
       |    string_agg(tok, ' ' ORDER BY pos) AS chunk_text
       |  FROM c WHERE is_cut = 0 GROUP BY 1, 2
       |), f AS (
       |  SELECT chunk_text, min(doc_id) AS fid FROM ch GROUP BY 1
       |)
       |SELECT ch.doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN ch.doc_id > f.fid THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_chunks,
       |  CAST(sum(CASE WHEN ch.doc_id > f.fid THEN ch.n_toks ELSE 0 END) AS BIGINT)
       |    AS n_dup_tokens
       |FROM ch JOIN f USING (chunk_text)
       |GROUP BY ch.doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q107_kcore", q107_kcore _, q107Sql),
    Query("q109_prefix_jaccard", q109_prefix_jaccard _, q109Sql),
    Query("q110_cdc_chunks", q110_cdc_chunks _, q110Sql)
  )
}
