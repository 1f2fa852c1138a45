package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{DenseIds, PrefixScan, Sessions}

/** Tokenizer-design, recsys-training, and
  * product-path primitives — exact-integer, DuckDB-oracle-gated.
  *
  *  - q184: vocabulary coverage curve — the "how big must the vocab be"
  *    design input for tokenizers (complements q112's trained BPE).
  *  - q185: deterministic hash-based negative sampling — the recsys /
  *    contrastive-training pair builder, with NO user×item cross join.
  *  - q186: session entry/exit paths + bounce — the product-path rollup
  *    on top of q21's gaps-and-islands sessionization.
  */
object ExtensionQueries30 extends QueryGroup {

  // --------------------------------------------------------------- q184

  /** q184: vocabulary coverage curve — for top-N most-frequent tokens
    * (N ∈ {1, 5, 10, 20}, sized to this corpus's whitespace vocabulary),
    * the cumulative share of ALL token occurrences they cover, in exact
    * ppm. The curve that decides tokenizer vocab size / stopword cutoffs
    * (Zipf mass concentration), next to q112's trained BPE.
    *
    * Scale shape: the heavy pass is one token-keyed count aggregate
    * (map-side combined; vocab ≪ occurrences); ranking is the q91
    * two-phase dense rank and the cumulative mass the two-phase
    * [[graft.ops.PrefixScan.prefixSumsInclusive]] — both over the
    * vocab-sized frame, never a single-reducer window; the N selection
    * is a 4-row broadcast and the corpus total a 1-row broadcast.
    * Ties (equal counts) break on the token string so both engines rank
    * identically.
    */
  def q184_vocab_coverage(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val ranked = DenseIds.withDenseId(counts, "rid", 16,
      col("cnt").desc, col("tok"))
    val cum = PrefixScan.prefixSumsInclusive(ranked, 16, Seq(col("rid")),
      Seq((col("cnt"), "cum_mass")))
    val total = toks.agg(count(lit(1)).as("total"))
    val ns = s.createDataFrame(Seq(Tuple1(1L), Tuple1(5L), Tuple1(10L),
      Tuple1(20L))).toDF("top_n")
    cum.crossJoin(broadcast(total))
      .join(broadcast(ns), col("rid") + 1 === col("top_n"))
      .select(col("top_n"), col("cum_mass"), col("total"),
        expr("cum_mass * 1000000 div total").as("coverage_ppm"))
      .orderBy(col("top_n"))
  }

  val q184Sql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |), c AS (
      |  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
      |), r AS (
      |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk,
      |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_mass
      |  FROM c
      |), t AS (SELECT count(*) AS total FROM toks
      |), ns AS (SELECT unnest([1, 5, 10, 20]::BIGINT[]) AS top_n)
      |SELECT top_n, cum_mass, total,
      |  CAST(cum_mass * 1000000 // total AS BIGINT) AS coverage_ppm
      |FROM r, t, ns
      |WHERE rnk = top_n
      |ORDER BY top_n""".stripMargin

  // --------------------------------------------------------------- q185

  /** q185: deterministic negative sampling — for each customer, up to 5
    * parts they have NEVER ordered, chosen by a modular pseudo-random
    * sequence `part(j) = (((cust mod p)·131 + j) mod p · 2654435761
    * mod p) mod maxPart + 1` for j = 1..8, anti-joined against the true
    * (customer, part) purchase pairs. The contrastive / recsys training
    * pair builder (BPR, word2vec negative sampling) — reproducible
    * across runs and engines because the "randomness" is pure modular
    * arithmetic (all intermediates < 2⁶³ on both engines; p = 10⁹+7).
    *
    * Scale shape: candidates are |customers|·8 rows generated by a
    * literal explode — NEVER a user×item cross join; the positives
    * anti-join is key-partitioned on (cust, part); the keep-5 window
    * partitions by customer (parallelizes); final listing is
    * TakeOrderedAndProject. First 100 (custkey, seq) rows.
    */
  def q185_negative_sampling(s: SparkSession, dir: String): DataFrame = {
    val P = 1000000007L
    val pos = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .distinct()
    val maxPart = Tables.part(s, dir).agg(max(col("p_partkey")).as("mp"))
    val w = Window.partitionBy(col("cust")).orderBy(col("j"))
    Tables.customer(s, dir).select(col("c_custkey").as("cust"))
      .crossJoin(broadcast(maxPart))
      .select(col("cust"), col("mp"),
        explode(array((1L to 8L).map(lit): _*)).as("j"))
      .withColumn("h", expr(s"((cust % $P) * 131 + j) % $P"))
      .withColumn("part", expr(s"(h * 2654435761) % $P % mp + 1"))
      .join(pos, Seq("cust", "part"), "left_anti")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("cust").as("custkey"), col("part").as("neg_partkey"),
        col("j").as("seq"))
      .orderBy(col("custkey"), col("seq"))
      .limit(100)
  }

  val q185Sql: String =
    """WITH pos AS (
      |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), mp AS (SELECT max(p_partkey) AS mp FROM part
      |), cand AS (
      |  SELECT c_custkey AS cust, mp, unnest(range(1, 9)) AS j
      |  FROM customer, mp
      |), h AS (
      |  SELECT cust, j,
      |    (((cust % 1000000007) * 131 + j) % 1000000007 * 2654435761)
      |      % 1000000007 % mp + 1 AS part
      |  FROM cand
      |), neg AS (
      |  SELECT h.cust, h.part, h.j,
      |    row_number() OVER (PARTITION BY h.cust ORDER BY h.j) AS rk
      |  FROM h ANTI JOIN pos ON h.cust = pos.cust AND h.part = pos.part
      |)
      |SELECT cust AS custkey, part AS neg_partkey, j AS seq
      |FROM neg WHERE rk <= 5
      |ORDER BY custkey, seq
      |LIMIT 100""".stripMargin

  // --------------------------------------------------------------- q186

  /** q186: session entry/exit paths — q21's 30-minute gaps-and-islands
    * sessionization rolled up to the product-path report: for each
    * (entry event type, exit event type) pair, the session count, how
    * many were single-event bounces, and the share of all sessions in
    * exact ppm.
    *
    * Scale shape: the lag/island windows partition by user (q21's
    * discipline — parallel across users, never global); entry/exit are
    * ONE conditional struct-min/max fold per session ((us, event_id)
    * is a unique total order, so the argmin is deterministic); the
    * report is a ≤|types|² aggregate with the 1-row session total
    * broadcast.
    */
  def q186_session_paths(s: SparkSession, dir: String): DataFrame = {
    val flagged = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .transform(Sessions.flag)
    val sessions = flagged.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("us"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        max(struct(col("us"), col("event_id"), col("event_type")))
          .getField("event_type").as("exit_type"))
    val total = sessions.agg(count(lit(1)).as("n_total"))
    sessions.groupBy(col("entry_type"), col("exit_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"))
      .crossJoin(broadcast(total))
      .select(col("entry_type"), col("exit_type"), col("n_sessions"),
        col("n_bounce"),
        expr("n_sessions * 1000000 div n_total").as("share_ppm"))
      .orderBy(col("entry_type"), col("exit_type"))
  }

  val q186Sql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |         > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |), g AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_id
      |  FROM f
      |), o AS (
      |  SELECT user_id, session_id, event_type,
      |    row_number() OVER (PARTITION BY user_id, session_id
      |      ORDER BY us, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY user_id, session_id
      |      ORDER BY us DESC, event_id DESC) AS rn_z,
      |    count(*) OVER (PARTITION BY user_id, session_id) AS n_events
      |  FROM g
      |), sess AS (
      |  SELECT user_id, session_id,
      |    min(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
      |    min(CASE WHEN rn_z = 1 THEN event_type END) AS exit_type,
      |    min(n_events) AS n_events
      |  FROM o GROUP BY user_id, session_id
      |), t AS (SELECT count(*) AS n_total FROM sess)
      |SELECT entry_type, exit_type, count(*) AS n_sessions,
      |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bounce,
      |  CAST(count(*) * 1000000 // n_total AS BIGINT) AS share_ppm
      |FROM sess, t
      |GROUP BY entry_type, exit_type, n_total
      |ORDER BY entry_type, exit_type""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q184_vocab_coverage", q184_vocab_coverage _, q184Sql),
    Query("q185_negative_sampling", q185_negative_sampling _, q185Sql),
    Query("q186_session_paths", q186_session_paths _, q186Sql)
  )
}
