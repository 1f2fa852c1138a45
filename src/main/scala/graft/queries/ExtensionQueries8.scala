package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.SpanDedup
import graft.ops.{CoPurchase, CountMin, Triangles}

/** Round-6 second batch: span-level dedup, the count-min member of the
  * sketch tier, corpus-frequency surprisal scoring, and triangle
  * counting — each with a bit-exact DuckDB mirror.
  */
object ExtensionQueries8 extends QueryGroup {

  // --------------------------------------------------------------- q103

  /** Span length for q103: 8 tokens — long enough that natural 8-gram
    * collisions are absent from this corpus (vocabulary ~30, but the
    * only repeated 8-grams are the generator's planted near-dup tails),
    * short enough to catch them (24 docs carry duplicated spans at
    * sf0.01).
    */
  private val SpanL = 8

  /** q103: exact duplicated-span removal ([[graft.ext.SpanDedup]]) —
    * Lee et al.'s substring dedup at 8-gram granularity: any 8-token
    * span whose text occurs in a smaller-id document is cut from the
    * later document and the survivors re-joined. Emits every document
    * with its token count, tokens dropped, and cleaned text; the oracle
    * replays first-owner resolution, span coverage, and reassembly
    * (ORDER BY position string_agg ≡ sorted-struct array_join).
    */
  def q103_span_dedup(s: SparkSession, dir: String): DataFrame =
    SpanDedup.dropDuplicatedSpans(Tables.documents(s, dir), "doc_id", "text", SpanL)
      .orderBy(col("doc_id"))

  val q103Sql: String = {
    val L = SpanL
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), g AS (
       |  SELECT doc_id,
       |    unnest(range(0, len(toks) - ${L - 1})) AS pos,
       |    unnest(list_transform(range(1, len(toks) - ${L - 2}),
       |      gi -> array_to_string(list_slice(toks, gi, gi + ${L - 1}), ' '))) AS gram
       |  FROM t
       |), f AS (
       |  SELECT gram, min(doc_id) AS fid FROM g GROUP BY gram
       |), dup AS (
       |  SELECT g.doc_id, g.pos FROM g JOIN f USING (gram) WHERE g.doc_id > f.fid
       |), cov AS (
       |  SELECT DISTINCT doc_id, pos + k AS tpos
       |  FROM dup CROSS JOIN (SELECT unnest(range(0, $L)) AS k)
       |), tok AS (
       |  SELECT doc_id, unnest(range(0, len(toks))) AS tpos, unnest(toks) AS tok FROM t
       |), kept AS (
       |  SELECT tk.doc_id, count(*) AS n_kept,
       |    string_agg(tk.tok, ' ' ORDER BY tk.tpos) AS clean
       |  FROM tok tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.tpos = cov.tpos
       |  WHERE cov.doc_id IS NULL
       |  GROUP BY tk.doc_id
       |)
       |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(toks) - coalesce(n_kept, 0) AS BIGINT) AS n_dropped,
       |  coalesce(clean, '') AS clean_text
       |FROM t LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q104

  private val CmsD = 4
  private val CmsW = 64

  /** q104: count-min frequency sketch ([[graft.ops.CountMin]]) — the
    * lineitem stream is sketched PER RETURNFLAG SHARD (3 independent
    * 4×64 sketches), the shards are cell-wise merged, and every
    * supplier key is point-estimated against the merged sketch next to
    * its exact count. The oracle builds the sketch of the UNION
    * directly — its hash-equality with the shard-merged path is the
    * mergeability proof (merge(sketch(A), sketch(B)) ≡ sketch(A∪B)),
    * and `never_under` pins the CMS one-sided guarantee as a certified
    * boolean (the q97 family).
    */
  def q104_count_min(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val shards = CountMin.sketch(li, "l_suppkey", CmsD, CmsW, col("l_returnflag"))
    val merged = CountMin.merge(shards)
    val keys = Tables.supplier(s, dir).select(col("s_suppkey"))
    val est = CountMin.estimate(keys, "s_suppkey", merged, CmsD, CmsW)
    val exact = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("true_cnt"))
    est.join(exact, col("s_suppkey") === col("l_suppkey"), "left")
      .select(col("s_suppkey"),
        coalesce(col("true_cnt"), lit(0L)).as("true_cnt"),
        col("cms_est"),
        (col("cms_est") >= coalesce(col("true_cnt"), lit(0L))).as("never_under"))
      .orderBy(col("s_suppkey"))
  }

  val q104Sql: String = {
    def bucket(key: String): String =
      s"((((2 * j + 1) * 2654435761) % 1000000007) * $key + (40503 * j + 7)) " +
        s"% 1000000007 % $CmsW"
    s"""WITH js AS (SELECT unnest(range(0, $CmsD)) AS j),
       |cells AS (
       |  SELECT j, ${bucket("l_suppkey")} AS bucket, count(*) AS cnt
       |  FROM lineitem CROSS JOIN js GROUP BY 1, 2
       |), probes AS (
       |  SELECT s_suppkey, j, ${bucket("s_suppkey")} AS bucket
       |  FROM supplier CROSS JOIN js
       |), est AS (
       |  SELECT s_suppkey, min(coalesce(cnt, 0)) AS cms_est
       |  FROM probes LEFT JOIN cells USING (j, bucket) GROUP BY s_suppkey
       |), tru AS (
       |  SELECT l_suppkey, count(*) AS true_cnt FROM lineitem GROUP BY 1
       |)
       |SELECT e.s_suppkey, coalesce(t.true_cnt, 0) AS true_cnt, e.cms_est,
       |  (e.cms_est >= coalesce(t.true_cnt, 0)) AS never_under
       |FROM est e LEFT JOIN tru t ON e.s_suppkey = t.l_suppkey
       |ORDER BY s_suppkey""".stripMargin
  }

  // --------------------------------------------------------------- q105

  /** q105: corpus-frequency surprisal scoring — the deterministic
    * stand-in for perplexity-based quality filtering (CCNet scores
    * against a KenLM model; a float −log₂p would not cross-engine
    * hash). Token surprisal is the integer bit-length gap
    * `len(bin(total)) − len(bin(cnt))` ≈ −log₂(cnt/total) within 1
    * bit, summed per document, plus a rare-token count (p < 1/1000).
    * High mean surprisal = off-corpus gibberish; low = boilerplate.
    * Scale shape: the vocab aggregate is one map-combined shuffle; the
    * score join shuffles on the token key (or broadcasts when the
    * vocab is small, as here); the 1-row total broadcasts.
    */
  def q105_surprisal(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    toks.join(vocab, "tok")
      .crossJoin(broadcast(total)) // 1-row scalar fan-out
      .select(col("doc_id"),
        (length(bin(col("total"))) - length(bin(col("cnt")))).cast("long").as("bits"),
        when(col("cnt") * 1000 < col("total"), 1L).otherwise(0L).as("rare"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"),
        sum(col("rare")).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("sum_bits"),
        expr("sum_bits * 100 div n_tokens").as("mean_centibits"), col("n_rare"))
      .orderBy(col("doc_id"))
  }

  val q105Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), vocab AS (
      |  SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
      |), tot AS (SELECT sum(cnt) AS total FROM vocab),
      |scored AS (
      |  SELECT t.doc_id,
      |    CAST(length(bin(tot.total)) - length(bin(v.cnt)) AS BIGINT) AS bits,
      |    CASE WHEN v.cnt * 1000 < tot.total THEN 1 ELSE 0 END AS rare
      |  FROM tok t JOIN vocab v USING (tok) CROSS JOIN tot
      |)
      |SELECT doc_id, count(*) AS n_tokens, CAST(sum(bits) AS BIGINT) AS sum_bits,
      |  CAST((sum(bits) * 100) // count(*) AS BIGINT) AS mean_centibits,
      |  CAST(sum(rare) AS BIGINT) AS n_rare
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q106

  /** q106: degree-oriented triangle counting ([[graft.ops.Triangles]])
    * over the q80 co-purchase graph (support ≥ 2 edges): per part, its
    * degree, triangle count, and local clustering coefficient as an
    * exact scaled rational. Complements PageRank (q74, global
    * importance) and connected components (q42, reachability) with the
    * local-density signal.
    */
  def q106_triangles(s: SparkSession, dir: String): DataFrame = {
    val edges = CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 2)
      .select(col("part_a"), col("part_b"))
    Triangles.counts(edges, "part_a", "part_b").orderBy(col("node"))
  }

  val q106Sql: String =
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lp a JOIN lp b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2
      |), deg AS (
      |  SELECT node, count(*) AS deg
      |  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      |  GROUP BY node
      |), o AS (
      |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.u < e.v)
      |           THEN e.u ELSE e.v END AS x,
      |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.u < e.v)
      |           THEN e.v ELSE e.u END AS y,
      |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.u < e.v)
      |           THEN db.deg ELSE da.deg END AS dy
      |  FROM e JOIN deg da ON e.u = da.node JOIN deg db ON e.v = db.node
      |), w AS (
      |  SELECT e1.x, e1.y AS y1, e2.y AS y2
      |  FROM o e1 JOIN o e2 ON e1.x = e2.x
      |  WHERE e1.dy < e2.dy OR (e1.dy = e2.dy AND e1.y < e2.y)
      |), tri AS (
      |  SELECT w.x, w.y1, w.y2 FROM w JOIN o ON o.x = w.y1 AND o.y = w.y2
      |), pn AS (
      |  SELECT node, count(*) AS n_tri
      |  FROM (SELECT x AS node FROM tri
      |        UNION ALL SELECT y1 FROM tri
      |        UNION ALL SELECT y2 FROM tri)
      |  GROUP BY node
      |)
      |SELECT d.node, d.deg, coalesce(pn.n_tri, CAST(0 AS BIGINT)) AS n_tri,
      |  CASE WHEN d.deg >= 2
      |    THEN (2 * coalesce(pn.n_tri, 0) * 1000000) // (d.deg * (d.deg - 1))
      |    ELSE CAST(0 AS BIGINT) END AS cc_ppm
      |FROM deg d LEFT JOIN pn USING (node) ORDER BY node""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q103_span_dedup", q103_span_dedup _, q103Sql),
    Query("q104_count_min", q104_count_min _, q104Sql),
    Query("q105_surprisal", q105_surprisal _, q105Sql),
    Query("q106_triangles", q106_triangles _, q106Sql)
  )
}
