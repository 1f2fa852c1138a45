package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.SetSimJoin
import QueryBlocks.{MinOverlap, shingles3, tokCte}

/** The certified hot-token hybrid for the exact overlap join: at a
  * 100× corpus with any hot-token mass, q116 as written dies in the
  * candidate stage.
  *
  * q116's sf1x rung proved the defect this pair answers: 10.8× shuffle
  * bytes (linear) but 28.5 GB spill and 88× task time at 10× data —
  * the Σc² prefix-collision stream is absorbed by partial aggregation
  * BEFORE shuffle write, so bytes alone can never see it. q497 runs the
  * same containment detector with candidate generation restricted to
  * COLD posting lists (length ≤ [[HybridHotCap]]), bounding the
  * candidate stream at (cap/2)·Σc — linear for a fixed cap — while
  * verification stays exact over the full element sets. q498 is the
  * measured certificate (the q489 band-audit shape): the excluded hot
  * pair mass, the cold candidate mass actually paid, and
  * `n_docs_at_risk` — the count of sets carrying ≥ o hot elements,
  * which by the pigeonhole recall contract ([[SetSimJoin
  * .overlapJoinHybrid]] scaladoc) must reach 2 before ANY pair can be
  * missed: at_risk < 2 certifies hybrid ≡ exact on that corpus.
  *
  * On the shipped corpora the cap never binds (max 3-shingle frequency
  * is 7 at sf0.01 and 25 at sf0.1 — measured), so q497's output equals
  * q116's and q498 reads zero hot mass; at the sf1x replication rung
  * frequencies scale ~10× past the cap and the hybrid sheds exactly
  * the quadratic stage the rung convicted.
  * OverlapHybridAdversarialSpec plants an all-hot-intersection pair
  * and pins miss + report + control recovery, the
  * AhashBandCapAdversarialSpec discipline.
  */
object ExtensionQueries136 extends QueryGroup {

  /** Posting-list length cap splitting cold (exact prefix join) from hot
    * (excluded from generation, measured by q498). 64 matches the aHash
    * [[ExtensionQueries132.HotBandCap]] discipline and sits 2.5× above
    * the corpus's sf0.1 maximum, so the cap engages only past the scale
    * where the exact form's candidate stage was proven quadratic. */
  private[graft] val HybridHotCap = 64L

  /** freq → ranked CTE pair shared by both mirrors: the same global
    * (cnt, tok) order, within-set rank, and full set size the engine's
    * fused Window computes. */
  private val rankedCtes: String =
    s"""freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
       |rk AS (
       |  SELECT t.id, t.tok, f.cnt,
       |    row_number() OVER (PARTITION BY t.id ORDER BY f.cnt, t.tok) AS rn,
       |    count(*) OVER (PARTITION BY t.id) AS s
       |  FROM tok t JOIN freq f USING (tok)
       |)""".stripMargin

  // --------------------------------------------------------------- q497

  /** q497: [[SetSimJoin.overlapJoinHybrid]] at q116's floor (o=20) with
    * the [[HybridHotCap]] posting cap — same output schema, same
    * containment semantics, linear candidate stage. The mirror replays
    * the HYBRID's semantics (full-set prefix ranks, cold cut, exact
    * verification), not q116's, so the cold-cut boundary itself is
    * hash-checked.
    */
  def q497_overlap_hybrid(s: SparkSession, dir: String): DataFrame =
    SetSimJoin.overlapJoinHybrid(shingles3(s, dir), "doc_id", "sh",
        MinOverlap, HybridHotCap)
      .orderBy(col("id_a"), col("id_b"))

  val q497Sql: String =
    s"""WITH $tokCte,
       |$rankedCtes,
       |cp AS (
       |  SELECT id, tok, s FROM rk
       |  WHERE rn <= s - $MinOverlap + 1 AND cnt <= $HybridHotCap
       |),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
       |  FROM cp a JOIN cp b ON a.tok = b.tok AND a.id < b.id
       |),
       |sets AS (SELECT id, list(tok) AS elems FROM tok GROUP BY id),
       |it AS (
       |  SELECT c.id_a, c.id_b, c.sa, c.sb,
       |    CAST(len(list_intersect(x.elems, y.elems)) AS BIGINT) AS inter
       |  FROM cand c JOIN sets x ON x.id = c.id_a JOIN sets y ON y.id = c.id_b
       |)
       |SELECT id_a, id_b, inter, sa, sb,
       |  inter * 1000000 // sa AS cont_a_ppm,
       |  inter * 1000000 // sb AS cont_b_ppm
       |FROM it WHERE inter >= $MinOverlap
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- q498

  /** q498: [[SetSimJoin.overlapHybridAudit]] for q497's geometry — the
    * one-row certificate a 100 TB operator reads BEFORE trusting q497's
    * recall: total vs hot vs cold-candidate pair mass, and the at-risk
    * set count whose <2 value certifies hybrid ≡ exact.
    */
  def q498_overlap_hybrid_cert(s: SparkSession, dir: String): DataFrame =
    SetSimJoin.overlapHybridAudit(shingles3(s, dir), "doc_id", "sh",
      MinOverlap, HybridHotCap)

  val q498Sql: String =
    s"""WITH $tokCte,
       |$rankedCtes,
       |ts AS (
       |  SELECT count(*) AS n_tokens,
       |    CAST(sum(CASE WHEN cnt > $HybridHotCap THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hot_tokens,
       |    CAST(sum(cnt) AS BIGINT) AS posting_rows,
       |    CAST(sum(CASE WHEN cnt > $HybridHotCap THEN cnt ELSE 0 END) AS BIGINT)
       |      AS hot_posting_rows,
       |    CAST(sum((cnt * (cnt - 1)) // 2) AS BIGINT) AS pair_mass,
       |    CAST(sum(CASE WHEN cnt > $HybridHotCap THEN (cnt * (cnt - 1)) // 2
       |             ELSE 0 END) AS BIGINT) AS hot_pair_mass
       |  FROM freq
       |),
       |cm AS (
       |  SELECT CAST(coalesce(sum((cp * (cp - 1)) // 2), 0) AS BIGINT)
       |    AS cand_pair_mass
       |  FROM (
       |    SELECT tok, count(*) AS cp FROM rk
       |    WHERE rn <= s - $MinOverlap + 1 AND cnt <= $HybridHotCap
       |    GROUP BY tok)
       |),
       |ar AS (
       |  SELECT count(*) AS n_docs_at_risk FROM (
       |    SELECT id FROM rk WHERE cnt > $HybridHotCap
       |    GROUP BY id HAVING count(*) >= $MinOverlap)
       |)
       |SELECT n_tokens, n_hot_tokens, posting_rows, hot_posting_rows,
       |  pair_mass, hot_pair_mass, cand_pair_mass, n_docs_at_risk,
       |  (n_docs_at_risk * (n_docs_at_risk - 1)) // 2 AS max_missed_pairs
       |FROM ts, cm, ar""".stripMargin

  // --------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q497_overlap_hybrid", q497_overlap_hybrid _, q497Sql),
    Query("q498_overlap_hybrid_cert", q498_overlap_hybrid_cert _, q498Sql)
  )
}
