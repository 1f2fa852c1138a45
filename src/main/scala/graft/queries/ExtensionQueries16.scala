package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.Multimodal

/** Round-9 batch 4: multimodal near-duplicate detection and dedup
  * survivorship — the two ends of the "which copies exist, which copy to
  * KEEP" loop.
  *
  *  - q141: perceptual-hash (average-hash) near-dup pairs over binary
  *    media payloads, banded for guaranteed-recall LSH joining.
  *  - q142: canonical-document selection over near-dup clusters — the
  *    survivorship DECISION a dedup pipeline emits (keep the
  *    highest-quality member, drop the rest).
  */
object ExtensionQueries16 extends QueryGroup {

  // --------------------------------------------------------------- q141

  /** q141: near-duplicate media detection by perceptual hash — the image
    * tier of the dedup family (exact: q25; text shingles: q26/q29;
    * embeddings: q37): payloads decode (stub, Multimodal.aHashBands) to
    * an 8×8 pixel block whose average-hash is 64 threshold bits in exact
    * integer math, packed as 4×16-bit band keys. Candidate pairs come
    * from a (band_idx, band_key) equi-join — the pigeonhole guarantees
    * every pair within Hamming ≤ 3 shares a band — and verification is
    * an exact popcount over the XORed bands.
    *
    * Scale shape: the decode is one typed mapPartitions pass (the only
    * legitimate mapPartitions — binary codec); the hash frame is
    * scope-cached (the self-join would otherwise decode twice); the join
    * shuffles only (band_idx, key)-bucketed rows, never all pairs; the
    * verify is the codegen [[graft.functions.HammingDistance]] kernel —
    * one tight popcount loop per candidate, inside whole-stage codegen
    * (the `aggregate(zip_with(...))` combinator form it replaces
    * interprets two lambdas per band; identical semantics, KernelSpec-
    * pinned).
    */
  def q141_phash_neardup(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
    val hashed = graft.core.CacheScope.scoped(Multimodal.aHashBands(media).toDF())
    val keys = hashed.select(col("media_id"), col("bands"),
      posexplode(col("bands")).as(Seq("band_idx", "band_key")))
    keys.as("a")
      .join(keys.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        col("a.bands").as("ba"), col("b.bands").as("bb"))
      .distinct() // a pair may agree on several bands
      .withColumn("hamming", graft.functions.VectorOps.hamming(col("ba"), col("bb")))
      .filter(col("hamming") <= 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val q141Sql: String =
    """WITH px AS (
      |  SELECT doc_id AS media_id,
      |    list_transform(range(1, 65),
      |      px_i -> CAST(ascii(substring(text, px_i, 1)) AS BIGINT)) AS px
      |  FROM documents WHERE octet_length(encode(text)) >= 64
      |), h AS (
      |  SELECT media_id,
      |    list_transform(range(0, 4), b -> list_reduce(
      |      list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 17),
      |        j -> CASE WHEN px[b*16 + j] * 64 > list_sum(px)
      |             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
      |      (acc, x) -> acc * 2 + x)) AS bands
      |  FROM px
      |), keys AS (
      |  SELECT media_id, bands,
      |    unnest(range(0, 4)) AS band_idx, unnest(bands) AS band_key
      |  FROM h
      |), cand AS (
      |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
      |    a.bands AS ba, b.bands AS bb
      |  FROM keys a JOIN keys b
      |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      |   AND a.media_id < b.media_id
      |)
      |SELECT id_a, id_b,
      |  CAST(list_reduce(list_transform(range(1, 5),
      |    bi -> CAST(bit_count(xor(ba[bi], bb[bi])) AS BIGINT)),
      |    (hx, hy) -> hx + hy) AS INT) AS hamming
      |FROM cand
      |WHERE list_reduce(list_transform(range(1, 5),
      |    bi -> CAST(bit_count(xor(ba[bi], bb[bi])) AS BIGINT)),
      |    (hx, hy) -> hx + hy) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- q142

  /** q142: canonical-document selection (survivorship) over the q42
    * near-dup clusters — the dedup DECISION: within each linked cluster,
    * keep the member with the most tokens (the least-truncated copy),
    * ties to the smallest doc_id; everything else is dropped. This is
    * the step that turns "these documents are near-duplicates" into the
    * actual training-corpus edit list.
    *
    * Scale shape: clusters come from the q42 machinery (inverted-index
    * Jaccard pairs → connected components); the survivorship argmax
    * folds into ONE rep-keyed aggregation via conditional struct min
    * over (−n_tokens, doc_id) — the q136 pattern — so no per-cluster
    * window and no second shuffle beyond the rep key.
    */
  def q142_canonical_docs(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.TextAnalysis
    val toks = ExtensionQueries2.q42Corpus(s, dir)
      .select(col("doc_id").as("tid"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    ExtensionQueries2.q42ClustersStaged(s, dir)
      .join(toks, col("id") === col("tid"))
      .groupBy(col("rep"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(col("n_tokens")).as("total_tokens"),
        min(struct((-col("n_tokens")).as("neg"), col("id").as("mid"))).as("best"))
      .select(col("rep"), col("n_members"), col("total_tokens"),
        col("best").getField("mid").as("canonical_id"),
        (-col("best").getField("neg")).as("canonical_tokens"),
        (col("n_members") - 1).as("n_dropped"))
      .orderBy(col("rep"))
  }

  val q142Sql: String =
    s"""${ExtensionQueries2.q42ClusterCtes},
       |tk AS (
       |  SELECT doc_id AS tid, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM allv
       |), j AS (
       |  SELECT rep, id, n_tokens FROM lbl JOIN tk ON id = tid
       |), rk AS (
       |  SELECT rep, id, n_tokens,
       |    row_number() OVER (PARTITION BY rep ORDER BY n_tokens DESC, id) AS rn
       |  FROM j
       |), agg AS (
       |  SELECT rep, count(*) AS n_members,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |  FROM j GROUP BY rep
       |)
       |SELECT agg.rep, n_members, total_tokens,
       |  rk.id AS canonical_id, rk.n_tokens AS canonical_tokens,
       |  n_members - 1 AS n_dropped
       |FROM agg JOIN rk ON agg.rep = rk.rep AND rk.rn = 1
       |ORDER BY agg.rep""".stripMargin

  // --------------------------------------------------------------- q144

  /** q144: CDC upsert compaction — MERGE INTO semantics: apply a change
    * batch (updates, deletes, inserts, multiple changes per key with
    * sequence numbers) to a base snapshot, producing the next snapshot.
    * Latest change per key wins; a delete tombstone drops the row. The
    * change set is synthesized deterministically from the base (keys
    * ≡0 mod 10 get TWO updates — seq 2 must win; ≡1 mod 10 a tombstone;
    * ≡2 mod 10 spawn an insert under a new key) so the DuckDB mirror
    * derives the identical batch.
    *
    * Scale shape — the Delta/Iceberg MERGE shape: the per-key argmax
    * runs over the CHANGE SET ONLY (small; conditional struct max, the
    * q136 pattern — SortAggregate on the small side is free), then ONE
    * full-outer key join against the base. The base is never argmaxed,
    * windowed, or shuffled more than once; the base frame is
    * scope-cached because the synthetic change derivation reads it too
    * (a real pipeline reads changes from a log, leaving a single base
    * pass).
    */
  def q144_cdc_upsert(s: SparkSession, dir: String): DataFrame = {
    val base = graft.core.CacheScope.scoped(
      Tables.customer(s, dir).select(
        col("c_custkey").as("k"),
        round(col("c_acctbal") * 100).cast("long").as("cents"),
        col("c_mktsegment").as("seg")))
    def chg(filterMod: Int, seq: Int, op: Int, cents: org.apache.spark.sql.Column,
        seg: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column) =
      base.filter(col("k") % 10 === filterMod)
        .select(key.as("k"), lit(seq).as("seq"), lit(op).as("op"),
          cents.as("c_cents"), seg.as("c_seg"))
    val changes =
      chg(0, 1, 0, col("cents") + 10000, col("seg"), col("k"))
        .union(chg(0, 2, 0, col("cents") + 20000, col("seg"), col("k")))
        .union(chg(1, 1, 1, lit(0L), col("seg"), col("k")))
        .union(chg(2, 1, 0, col("cents"), lit("NEWSEG"), col("k") + 1000000L))
    val latest = changes.groupBy(col("k"))
      .agg(max(struct(col("seq"), col("op"), col("c_cents"), col("c_seg"))).as("ch"))
      .select(col("k"), col("ch.op").as("op"),
        col("ch.c_cents").as("c_cents"), col("ch.c_seg").as("c_seg"))
    base.join(latest, Seq("k"), "full_outer")
      .filter(coalesce(col("op") =!= 1, lit(true))) // tombstones drop
      .select(col("k").as("c_custkey"),
        coalesce(col("c_cents"), col("cents")).as("acctbal_cents"),
        coalesce(col("c_seg"), col("seg")).as("mktsegment"),
        when(col("cents").isNull, "inserted")
          .when(col("op").isNull, "kept").otherwise("updated").as("version"))
      .orderBy(col("c_custkey"))
  }

  val q144Sql: String =
    """WITH base AS (
      |  SELECT c_custkey AS k, CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
      |    c_mktsegment AS seg
      |  FROM customer
      |), changes AS (
      |  SELECT k, 1 AS seq, 0 AS op, cents + 10000 AS c_cents, seg AS c_seg
      |  FROM base WHERE k % 10 = 0
      |  UNION ALL
      |  SELECT k, 2, 0, cents + 20000, seg FROM base WHERE k % 10 = 0
      |  UNION ALL
      |  SELECT k, 1, 1, CAST(0 AS BIGINT), seg FROM base WHERE k % 10 = 1
      |  UNION ALL
      |  SELECT k + 1000000, 1, 0, cents, 'NEWSEG' FROM base WHERE k % 10 = 2
      |), latest AS (
      |  SELECT k, op, c_cents, c_seg FROM (
      |    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      |    FROM changes
      |  ) WHERE rn = 1
      |)
      |SELECT coalesce(base.k, latest.k) AS c_custkey,
      |  coalesce(c_cents, cents) AS acctbal_cents,
      |  coalesce(c_seg, seg) AS mktsegment,
      |  CASE WHEN cents IS NULL THEN 'inserted'
      |       WHEN op IS NULL THEN 'kept' ELSE 'updated' END AS version
      |FROM base FULL OUTER JOIN latest ON base.k = latest.k
      |WHERE op IS NULL OR op <> 1
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q141_phash_neardup", q141_phash_neardup _, q141Sql),
    Query("q142_canonical_docs", q142_canonical_docs _, q142Sql),
    Query("q144_cdc_upsert", q144_cdc_upsert _, q144Sql)
  )
}
