package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{CacheScope, Tables}
import graft.ops.{Bfs, CoPurchase, DenseIds}

/** Round-9 batch 7: traversal, policy scanning, trends, layout, feature
  * selection, and time travel.
  *
  *  - q150: landmark BFS hop histogram — the bounded-depth traversal the
  *    fixpoint graph tier (PageRank/k-core/LPA/CC) does not cover.
  *  - q151: phrase-blocklist occurrence scan — policy/content filtering
  *    as exact substring counting, blocklist derived in-query.
  *  - q152: per-customer spend trend — exact integer OLS slope (micro-
  *    dollars/day), the triage primitive behind "rising accounts".
  *  - q153: z-order vs linear layout — file-skipping manifest pruning
  *    quantified on the same box predicate.
  *  - q154: discriminative keywords by document-frequency lift — exact
  *    ppm feature selection for corpus labeling.
  *  - q155: multi-snapshot time travel — per-user as-of state at K
  *    derived instants in one events pass.
  */
object ExtensionQueries19 extends QueryGroup {

  // --------------------------------------------------------------- q150

  /** q150: landmark BFS over the co-purchase part graph (q74's edge
    * construction): minimum hop distance from the 3 lowest part keys,
    * bounded at 4 hops, reported as a histogram (dist → part count) with
    * an explicit `-1` bucket for parts out of range.
    *
    * Scale shape: synchronous frontier expansion ([[graft.ops.Bfs]]) —
    * the loop-invariant edge list is checkpointed src-partitioned, but
    * with adaptive execution on the checkpoint does not carry that
    * partitioning, so each hop that runs shuffles the edge list again
    * (at sf0.01, 3 × 231,458 of the run's 886,626 shuffle records);
    * rounds are bounded at 4 hops. No structure ever exceeds |V| rows — the Pregel
    * BFS shape that survives a 10¹⁰-edge graph, vs the recursive-CTE
    * spelling which is inherently single-node.
    */
  def q150_bfs_hops(s: SparkSession, dir: String): DataFrame = {
    val edges = CoPurchase.symmetric(
      CoPurchase.pairs(CoPurchase.baskets(Tables.lineitem(s, dir)), minCo = 1)
        .select(col("part_a").as("src"), col("part_b").as("dst")))
    val parts = Tables.part(s, dir).select(col("p_partkey").as("id"))
    val seeds = parts.filter(col("id") < 3)
    val visited = Bfs.hops(edges, seeds, maxHops = 4)
    val reached = visited.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_parts"))
    val unreached = parts.join(visited, Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_parts"))
      .select(lit(-1L).as("dist"), col("n_parts"))
    reached.union(unreached).orderBy(col("dist"))
  }

  val q150Sql: String =
    """WITH RECURSIVE lp AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lp a JOIN lp b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |), walk(id, dist) AS (
      |  SELECT p_partkey, 0 FROM part WHERE p_partkey < 3
      |  UNION
      |  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.id
      |  WHERE w.dist < 4
      |), best AS (
      |  SELECT id, min(dist) AS dist FROM walk GROUP BY id
      |)
      |SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_parts
      |FROM best GROUP BY dist
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT) AS dist, count(*) AS n_parts
      |FROM part WHERE p_partkey NOT IN (SELECT id FROM best)
      |ORDER BY dist""".stripMargin

  // --------------------------------------------------------------- q151

  /** q151: blocklist occurrence scan. The blocklist is derived in-query
    * (the 5 most frequent tokens of length ≥ 6 — a deterministic
    * stand-in for a policy phrase list); each document is scanned for
    * ALL blocklist phrases as raw substrings and the per-source report
    * ranks sources by total hits. Occurrence counting is the exact
    * delete-and-measure identity `(len(text) − len(replace(text, p)))
    * div len(p)` — pure integer arithmetic, no regex engine.
    *
    * Scale shape: the blocklist rides as a ONE-ROW array literal
    * (broadcast cross join — the repo's scalar-broadcast pattern), so
    * the scan is a single documents pass with a codegen'd fold over ≤5
    * phrases; the per-source report is one map-side-combined aggregate.
    * A million-phrase blocklist would swap the fold for an Aho–Corasick
    * expression, but the plan shape (broadcast dictionary + one pass)
    * is already the 100 TB one.
    */
  def q151_blocklist(s: SparkSession, dir: String): DataFrame = {
    val docs = CacheScope.scoped(
      Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")))
    val top = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) >= 6)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(5)
    val bl = top.agg(sort_array(collect_list(col("tok"))).as("bl"))
    docs.crossJoin(broadcast(bl))
      .withColumn("hits", expr(
        "aggregate(bl, CAST(0 AS BIGINT), (acc, p) -> " +
          "acc + (length(text) - length(replace(text, p, ''))) div length(p))"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("hits") > 0L, 1L).otherwise(0L)).as("docs_flagged"),
        sum(col("hits")).as("total_hits"))
      .orderBy(col("total_hits").desc, col("source"))
  }

  val q151Sql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |), top AS (
      |  SELECT tok FROM (
      |    SELECT tok, count(*) AS n FROM toks WHERE len(tok) >= 6
      |    GROUP BY tok ORDER BY n DESC, tok LIMIT 5
      |  )
      |), hits AS (
      |  SELECT d.doc_id, d.source,
      |    SUM((len(d.text) - len(replace(d.text, t.tok, ''))) // len(t.tok)) AS h
      |  FROM documents d CROSS JOIN top t
      |  GROUP BY d.doc_id, d.source
      |)
      |SELECT source,
      |  CAST(count(*) FILTER (WHERE h > 0) AS BIGINT) AS docs_flagged,
      |  CAST(sum(h) AS BIGINT) AS total_hits
      |FROM hits GROUP BY source
      |ORDER BY total_hits DESC, source""".stripMargin

  // --------------------------------------------------------------- q152

  /** q152: per-customer spend trend as an EXACT integer OLS slope.
    * x = order day re-based to the customer's first order (keeps every
    * product inside 64 bits), y = whole dollars; slope in micro-dollars
    * per day via the closed form
    * `(n·Σxy − Σx·Σy) · 10⁶ div (n·Σx² − (Σx)²)` — all integer, no FP
    * accumulation order to diverge on. Customers need n ≥ 3 orders and a
    * non-degenerate day spread (den > 0). Top 10 fastest-rising.
    *
    * Scale shape: the re-base min is a customer-partitioned window and
    * the moment sums a customer-keyed aggregate — same key, so Catalyst
    * reuses one exchange for both; output via TakeOrderedAndProject.
    * Bound: |num·10⁶| ≤ n·max_x·max_y·10⁶ ≈ 20·2 500·5·10⁵·10⁶ ≈ 2.5·10¹⁶
    * per customer — 64-bit safe with three orders of margin (larger
    * per-customer histories upgrade the sums to DECIMAL(38), the q145
    * money-sum posture).
    */
  def q152_trend_slope(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        round(col("o_totalprice")).cast("long").as("dollars"))
      .withColumn("x", col("day") - min(col("day")).over(w))
    o.groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("x")).as("sx"),
        sum(col("dollars")).as("sy"),
        sum(col("x") * col("dollars")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("den", col("n_orders") * col("sxx") - col("sx") * col("sx"))
      .filter(col("n_orders") >= 3 && col("den") > 0)
      .select(col("o_custkey"), col("n_orders"),
        expr("(n_orders * sxy - sx * sy) * 1000000 div den").as("slope_micro"))
      .orderBy(col("slope_micro").desc, col("o_custkey"))
      .limit(10)
  }

  val q152Sql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
      |    CAST(round(o_totalprice) AS BIGINT) AS dollars
      |  FROM orders
      |), x AS (
      |  SELECT o_custkey, dollars,
      |    day - min(day) OVER (PARTITION BY o_custkey) AS x
      |  FROM o
      |), m AS (
      |  SELECT o_custkey,
      |    count(*) AS n_orders,
      |    CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(dollars) AS BIGINT) AS sy,
      |    CAST(sum(x * dollars) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM x GROUP BY o_custkey
      |)
      |SELECT o_custkey, n_orders,
      |  CAST((n_orders * sxy - sx * sy) * 1000000
      |       // (n_orders * sxx - sx * sx) AS BIGINT) AS slope_micro
      |FROM m
      |WHERE n_orders >= 3 AND n_orders * sxx - sx * sx > 0
      |ORDER BY slope_micro DESC, o_custkey
      |LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q153

  /** q153: z-order layout vs insertion order, quantified as manifest
    * pruning. Events get a 12-bit Morton key interleaving (user_id mod
    * 64) with (event day mod 64); rows are laid out in 256-row blocks
    * under (a) insertion order and (b) z-order; each layout's per-block
    * min/max manifest is then pruned with the same box predicate
    * (ux, dy ∈ [8, 15]) — the file-skipping mechanic of
    * Delta/Iceberg/Hudi data layout, measured exactly: blocks a
    * min/max-pruning reader must scan, vs rows that actually match.
    *
    * Scale shape: block ids come from the q91 two-phase dense rank
    * (range partition + broadcast offsets — NEVER a partition-less
    * row_number); the manifest is one block-keyed aggregate (blocks =
    * rows/256, itself the compaction ratio); the verdict per layout is a
    * 1-row fold. The z-value is pure codegen shift/mask arithmetic.
    */
  def q153_zorder_skip(s: SparkSession, dir: String): DataFrame = {
    val base = CacheScope.scoped(
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("ux", col("user_id") % 64)
        .withColumn("dy", expr("(ts div 86400000000000) % 64"))
        .withColumn("z", (0 until 6).map { i =>
          shiftleft(shiftright(col("ux"), i).bitwiseAND(lit(1L)), 2 * i) +
            shiftleft(shiftright(col("dy"), i).bitwiseAND(lit(1L)), 2 * i + 1)
        }.reduce[Column](_ + _)))

    def audit(layout: String, order: Column*): DataFrame =
      DenseIds.withDenseId(base, "rid", 32, order: _*)
        .withColumn("block", expr("rid div 256"))
        .groupBy(col("block"))
        .agg(
          min(col("ux")).as("min_ux"), max(col("ux")).as("max_ux"),
          min(col("dy")).as("min_dy"), max(col("dy")).as("max_dy"),
          sum(when(col("ux").between(8, 15) && col("dy").between(8, 15), 1L)
            .otherwise(0L)).as("matched"))
        .agg(
          count(lit(1)).as("n_blocks"),
          sum(when(!(col("max_ux") < 8 || col("min_ux") > 15 ||
            col("max_dy") < 8 || col("min_dy") > 15), 1L).otherwise(0L))
            .as("blocks_scanned"),
          sum(col("matched")).as("rows_matched"))
        .select(lit(layout).as("layout"), col("n_blocks"),
          col("blocks_scanned"), col("rows_matched"))

    audit("linear", col("event_id"))
      .union(audit("zorder", col("z"), col("event_id")))
      .orderBy(col("layout"))
  }

  private val zExprSql: String = (0 until 6).map { i =>
    s"(((ux >> $i) & 1) << ${2 * i}) + (((dy >> $i) & 1) << ${2 * i + 1})"
  }.mkString(" + ")

  val q153Sql: String =
    s"""WITH base AS (
      |  SELECT event_id,
      |    user_id % 64 AS ux,
      |    (epoch_us(ts) // 86400000000) % 64 AS dy
      |  FROM events
      |), z AS (
      |  SELECT event_id, ux, dy, $zExprSql AS z FROM base
      |), lin AS (
      |  SELECT ux, dy,
      |    (row_number() OVER (ORDER BY event_id) - 1) // 256 AS block
      |  FROM z
      |), zord AS (
      |  SELECT ux, dy,
      |    (row_number() OVER (ORDER BY z, event_id) - 1) // 256 AS block
      |  FROM z
      |), lin_m AS (
      |  SELECT block, min(ux) AS min_ux, max(ux) AS max_ux,
      |    min(dy) AS min_dy, max(dy) AS max_dy,
      |    sum(CASE WHEN ux BETWEEN 8 AND 15 AND dy BETWEEN 8 AND 15
      |        THEN 1 ELSE 0 END) AS matched
      |  FROM lin GROUP BY block
      |), z_m AS (
      |  SELECT block, min(ux) AS min_ux, max(ux) AS max_ux,
      |    min(dy) AS min_dy, max(dy) AS max_dy,
      |    sum(CASE WHEN ux BETWEEN 8 AND 15 AND dy BETWEEN 8 AND 15
      |        THEN 1 ELSE 0 END) AS matched
      |  FROM zord GROUP BY block
      |)
      |SELECT 'linear' AS layout, count(*) AS n_blocks,
      |  CAST(sum(CASE WHEN NOT (max_ux < 8 OR min_ux > 15 OR max_dy < 8
      |      OR min_dy > 15) THEN 1 ELSE 0 END) AS BIGINT) AS blocks_scanned,
      |  CAST(sum(matched) AS BIGINT) AS rows_matched
      |FROM lin_m
      |UNION ALL
      |SELECT 'zorder' AS layout, count(*) AS n_blocks,
      |  CAST(sum(CASE WHEN NOT (max_ux < 8 OR min_ux > 15 OR max_dy < 8
      |      OR min_dy > 15) THEN 1 ELSE 0 END) AS BIGINT) AS blocks_scanned,
      |  CAST(sum(matched) AS BIGINT) AS rows_matched
      |FROM z_m
      |ORDER BY layout""".stripMargin

  // --------------------------------------------------------------- q154

  /** q154: discriminative keywords by document-frequency LIFT — the
    * feature-selection pass of a corpus labeler: which tokens
    * over-appear in English documents relative to the whole corpus?
    * `lift_ppm = rate_en_ppm · 10⁶ div rate_all_ppm` with both rates
    * exact integer ppm document frequencies; support floor df_en ≥ 5.
    * Scale-independent magnitudes (every factor ≤ 10⁶ · df), so the
    * arithmetic never leaves 64 bits at any corpus size.
    *
    * Scale shape: one tokenize pass → per-token presence counts
    * (distinct + map-side-combined aggregate, token-keyed); corpus
    * totals ride as a 1-row broadcast; top-10 via
    * TakeOrderedAndProject.
    */
  def q154_keyword_lift(s: SparkSession, dir: String): DataFrame = {
    val docs = CacheScope.scoped(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")))
    val presence = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val totals = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
    presence.groupBy(col("tok"))
      .agg(
        count(lit(1)).as("df"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("df_en"))
      .filter(col("df_en") >= 5)
      .crossJoin(broadcast(totals))
      .select(col("tok"), col("df_en"), col("df"),
        expr("(df_en * 1000000 div n_en) * 1000000 div (df * 1000000 div n_docs)")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("tok"))
      .limit(10)
  }

  val q154Sql: String =
    """WITH presence AS (
      |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), totals AS (
      |  SELECT count(*) AS n_docs,
      |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en
      |  FROM documents
      |), df AS (
      |  SELECT tok, count(*) AS df,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS df_en
      |  FROM presence GROUP BY tok
      |)
      |SELECT tok, df_en, df,
      |  CAST((df_en * 1000000 // n_en) * 1000000
      |       // (df * 1000000 // n_docs) AS BIGINT) AS lift_ppm
      |FROM df, totals
      |WHERE df_en >= 5
      |ORDER BY lift_ppm DESC, tok
      |LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q155

  /** q155: multi-snapshot time travel — reconstruct each user's as-of
    * state (their LAST event at or before T) at three instants derived
    * from the stream's own span (min + k·(max−min)/4, k ∈ 1..3), and
    * report the state distribution per snapshot. The batch form of
    * "what did the world look like at T" over an append-only log —
    * snapshot isolation without a table format.
    *
    * Scale shape: the snapshot instants are a 1-row aggregate exploded
    * to THREE rows and broadcast — the events scan happens ONCE, fanned
    * ×K by the broadcast non-equi join (K is the snapshot count, a
    * constant); per-(snapshot, user) last-event is a max-of-struct fold
    * (map-side combined, never a window); the report is a tiny keyed
    * count. Unit note: Spark compares LONG nanos, the oracle LONG µs —
    * selection is provably identical because every event timestamp is
    * whole µs, so the sub-µs remainder of the nanos threshold can never
    * change a ≤ against an integer-µs event time.
    */
  def q155_time_travel(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
      .select(col("ts"), col("event_id"), col("user_id"), col("event_type"))
    val snaps = events.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      .select(explode(sequence(lit(1), lit(3))).as("k0"), col("mn"), col("mx"))
      .select(col("k0").cast("long").as("k"),
        expr("mn + ((mx - mn) * k0) div 4").as("tk"))
    events.join(broadcast(snaps), col("ts") <= col("tk"))
      .groupBy(col("k"), col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
      .select(col("k"), col("m.event_type").as("state"))
      .groupBy(col("k"), col("state"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("k"), col("state"))
  }

  val q155Sql: String =
    """WITH b AS (
      |  SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events
      |), ks AS (
      |  SELECT CAST(t.k AS BIGINT) AS k, mn + ((mx - mn) * t.k) // 4 AS tk
      |  FROM b, range(1, 4) t(k)
      |), last AS (
      |  SELECT k, user_id, event_type,
      |    row_number() OVER (PARTITION BY k, user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events, ks
      |  WHERE epoch_us(ts) <= tk
      |)
      |SELECT k, event_type AS state, count(*) AS n_users
      |FROM last WHERE rn = 1
      |GROUP BY k, event_type
      |ORDER BY k, state""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q150_bfs_hops", q150_bfs_hops _, q150Sql),
    Query("q151_blocklist", q151_blocklist _, q151Sql),
    Query("q152_trend_slope", q152_trend_slope _, q152Sql),
    Query("q153_zorder_skip", q153_zorder_skip _, q153Sql),
    Query("q154_keyword_lift", q154_keyword_lift _, q154Sql),
    Query("q155_time_travel", q155_time_travel _, q155Sql)
  )
}
