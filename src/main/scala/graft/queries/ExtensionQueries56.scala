package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.DenseIds

/** Round-9 batch 44: bot fingerprints, template detection, and rank
  * churn — exact-integer, DuckDB-oracle-gated.
  *
  *  - q261: duplicate-action rate — consecutive identical events per
  *    user.
  *  - q262: template prefixes — documents sharing an opening token
  *    run.
  *  - q263: rank movers — parts whose revenue rank shifted most
  *    between halves.
  */
object ExtensionQueries56 extends QueryGroup {

  // --------------------------------------------------------------- q261

  /** q261: duplicate-action rate — per user, the share of events whose
    * (type, page) exactly repeats the user's PREVIOUS event, in ppm;
    * top 20 users by rate among users with ≥ 20 events. Mechanical
    * repetition is the cheapest bot fingerprint (q218's burst flags
    * time; this flags CONTENT), and the lag spelling makes it one
    * window pass.
    *
    * Scale shape: one user-partitioned lag pass; per-user fold;
    * TakeOrderedAndProject.
    */
  def q261_duplicate_actions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        coalesce(get_json_object(col("props"), "$.k").try_cast("long"),
          lit(-1L)).as("page"),
        expr("ts div 1000").as("us"))
      .withColumn("dup",
        when(lag(col("event_type"), 1).over(w) === col("event_type") &&
          lag(col("page"), 1).over(w) === col("page"), 1L).otherwise(0L))
    e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("dup")).as("n_dups"))
      .filter(col("n_events") >= 20)
      .select(col("user_id"), col("n_events"), col("n_dups"),
        expr("n_dups * 1000000 div (n_events - 1)").as("dup_ppm"))
      .orderBy(col("dup_ppm").desc, col("user_id"))
      .limit(20)
  }

  val q261Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT),
      |      -1) AS page,
      |    epoch_us(ts) AS us
      |  FROM events
      |), d AS (
      |  SELECT user_id,
      |    CASE WHEN lag(event_type, 1) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id) = event_type
      |      AND lag(page, 1) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id) = page
      |      THEN 1 ELSE 0 END AS dup
      |  FROM e
      |), u AS (
      |  SELECT user_id, count(*) AS n_events,
      |    CAST(sum(dup) AS BIGINT) AS n_dups
      |  FROM d GROUP BY user_id
      |  HAVING count(*) >= 20
      |)
      |SELECT user_id, n_events, n_dups,
      |  CAST(n_dups * 1000000 // (n_events - 1) AS BIGINT) AS dup_ppm
      |FROM u
      |ORDER BY dup_ppm DESC, user_id
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q262

  /** q262: template-prefix detection — documents grouped by their
    * first 5 whitespace tokens; prefixes shared by ≥ 3 documents are
    * template candidates, reported with their document count, how many
    * distinct sources emit them, and corpus share in ppm. Boilerplate
    * that q71's within-doc signals miss lives ACROSS documents — the
    * shared opening line is its cheapest witness.
    *
    * Scale shape: the prefix is a projection (no explode); one
    * prefix-keyed count + distinct-source fold; corpus total
    * broadcast; TakeOrderedAndProject.
    */
  def q262_template_prefixes(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("source"),
        expr("array_join(slice(split(text, ' '), 1, 5), ' ')").as("prefix"))
    val total = d.agg(count(lit(1)).as("t"))
    d.groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .filter(col("n_docs") >= 3)
      .crossJoin(broadcast(total))
      .select(col("prefix"), col("n_docs"), col("n_sources"),
        expr("n_docs * 1000000 div t").as("share_ppm"))
      .orderBy(col("n_docs").desc, col("prefix"))
      .limit(20)
  }

  val q262Sql: String =
    """WITH d AS (
      |  SELECT source,
      |    array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ')
      |      AS prefix
      |  FROM documents
      |), t AS (SELECT count(*) AS t FROM d)
      |SELECT prefix, count(*) AS n_docs,
      |  count(DISTINCT source) AS n_sources,
      |  CAST(count(*) * 1000000 // t AS BIGINT) AS share_ppm
      |FROM d, t
      |GROUP BY prefix, t
      |HAVING count(*) >= 3
      |ORDER BY n_docs DESC, prefix
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q263

  /** q263: revenue rank movers — parts ranked by revenue inside each
    * order-date half (split at the median order day, exact), joined on
    * part, top 20 by absolute rank change. The "biggest movers"
    * leaderboard with EXACT ranks on both sides (two q91 two-phase
    * dense ranks, ties by part key) — a float-share version would
    * reshuffle ties between engines.
    *
    * Scale shape: revenue aggregates once per (half, part); each
    * half's rank is a two-phase DenseIds pass over its part frame;
    * the mover join is part-keyed; TakeOrderedAndProject.
    */
  def q263_rank_movers(s: SparkSession, dir: String): DataFrame = {
    val j = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("l_partkey"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("day"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val mid = j.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val rev = j.crossJoin(broadcast(mid))
      .select(col("l_partkey"), (col("day") <= col("mid")).as("first_half"),
        col("cents"))
      .groupBy(col("l_partkey"), col("first_half"))
      .agg(sum(col("cents")).as("cents"))
    // ONE two-phase rank pass for both halves (round-18): the global
    // order (first_half desc, cents desc, part) sorts every first-half
    // row before every second-half row with the per-half tie order
    // intact, so rank-within-half = global id (+1), minus the first
    // half's row count for the second half — exactly the two separate
    // DenseIds passes' output, at half the rank machinery and without
    // re-deriving the orders⋈lineitem rollup once per half (DenseIds'
    // internal actions cannot share work across invocations).
    val ranked = DenseIds.withDenseId(
      rev.select(col("l_partkey"), col("first_half"), col("cents")),
      "g", 16, col("first_half").desc, col("cents").desc, col("l_partkey"))
    val nFirst = ranked.filter(col("first_half"))
      .agg(count(lit(1)).as("n_first"))
    val ra = ranked.filter(col("first_half"))
      .select(col("l_partkey"), (col("g") + 1).as("rank_a"))
    val rb = ranked.filter(!col("first_half"))
      .crossJoin(broadcast(nFirst)) // 1-row offset fan-out
      .select(col("l_partkey"), (col("g") + 1 - col("n_first")).as("rank_b"))
    ra.join(rb, "l_partkey")
      .select(col("l_partkey"), col("rank_a"), col("rank_b"),
        (col("rank_a") - col("rank_b")).as("rank_change"),
        abs(col("rank_a") - col("rank_b")).as("abs_change"))
      .orderBy(col("abs_change").desc, col("l_partkey"))
      .limit(20)
  }

  val q263Sql: String =
    """WITH j AS (
      |  SELECT l_partkey,
      |    CAST(datediff('day', DATE '1970-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |), m AS (
      |  SELECT (min(day) + max(day)) // 2 AS mid FROM j
      |), rev AS (
      |  SELECT l_partkey, day <= mid AS first_half,
      |    CAST(sum(cents) AS BIGINT) AS cents
      |  FROM j, m GROUP BY l_partkey, first_half
      |), ra AS (
      |  SELECT l_partkey,
      |    row_number() OVER (ORDER BY cents DESC, l_partkey) AS rank_a
      |  FROM rev WHERE first_half
      |), rb AS (
      |  SELECT l_partkey,
      |    row_number() OVER (ORDER BY cents DESC, l_partkey) AS rank_b
      |  FROM rev WHERE NOT first_half
      |)
      |SELECT ra.l_partkey, CAST(rank_a AS BIGINT) AS rank_a,
      |  CAST(rank_b AS BIGINT) AS rank_b,
      |  CAST(rank_a - rank_b AS BIGINT) AS rank_change,
      |  abs(CAST(rank_a - rank_b AS BIGINT)) AS abs_change
      |FROM ra JOIN rb ON ra.l_partkey = rb.l_partkey
      |ORDER BY abs_change DESC, ra.l_partkey
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q261_duplicate_actions", q261_duplicate_actions _, q261Sql),
    Query("q262_template_prefixes", q262_template_prefixes _, q262Sql),
    Query("q263_rank_movers", q263_rank_movers _, q263Sql)
  )
}
