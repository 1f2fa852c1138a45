package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Ranks

/** Round-13 batch 17: tuning budgets, causal estimates, and the dedup
  * dividend.
  *
  *  - q402 successive halving (the ASHA/Hyperband core) — 16 "configs"
  *    (user-id residue classes) scored on growing data prefixes; each
  *    rung halves the survivor set on the exact mean-value-so-far.
  *    Four chained rank-and-filter stages, each a bounded frame — the
  *    scheduling pattern a tuning service runs at scale, here fully
  *    deterministic and oracle-checkable.
  *  - q403 difference-in-differences — δ = (ȳ_T,post − ȳ_T,pre) −
  *    (ȳ_C,post − ȳ_C,pre) for treatment = BUILDING-segment customers
  *    across the span halves, in exact milli-dollars, plus the
  *    parallel-trends placebo (the same contrast inside the pre
  *    period). The causal-inference staple completing q379 (CUPED) and
  *    q394 (Shapley).
  *  - q404 dedup savings projection — tokens and documents removed by
  *    keep-first near-dup dedup (q42 clusters), overall and per
  *    source: the DROP-side dividend that q337's keep-and-reweight
  *    alternative forgoes.
  */
object ExtensionQueries104 extends QueryGroup {

  // --------------------------------------------------------------- q402

  /** q402: rungs evaluate config c (user_id % 16) on events of the
    * first 1, 2, 4, 8 weeks; survivors of rung r are the top 16/2^r by
    * exact mean cents (tiebreak config id). Output: one row per
    * config with the last rung it survived and its final-rung stats.
    * Scale shape: ONE conditional-sum pass builds all four rung
    * aggregates (no re-scan per rung); the rank-halving runs on the
    * 16-row frame under [[Ranks.bounded]].
    */
  def q402_successive_halving(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select((col("user_id") % 16).as("config"),
        expr("ts div 604800000000000").as("wk"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val w0 = ev.agg(min(col("wk")).as("w0"))
    val base = ev.crossJoin(broadcast(w0))
      .select(col("config"), (col("wk") - col("w0")).as("k"), col("cents"))
    val rungAgg = base.groupBy(col("config"))
      .agg((1 to 4).map { r =>
        val lim = 1L << (r - 1) // weeks 0..lim-1
        struct(
          sum(when(col("k") < lim, col("cents")).otherwise(0L)).as("s"),
          sum(when(col("k") < lim, 1L).otherwise(0L)).as("n")).as(s"r$r")
      }.head, (2 to 4).map { r =>
        val lim = 1L << (r - 1)
        struct(
          sum(when(col("k") < lim, col("cents")).otherwise(0L)).as("s"),
          sum(when(col("k") < lim, 1L).otherwise(0L)).as("n")).as(s"r$r")
      }: _*)
    // mean in milli-cents; configs with zero rows at a rung score MIN
    def mean(r: Int) = expr(
      s"CASE WHEN r$r.n = 0 THEN -4611686018427387904 ELSE r$r.s * 1000 div r$r.n END")
    val scored = rungAgg.select(col("config"),
      mean(1).as("m1"), mean(2).as("m2"), mean(3).as("m3"), mean(4).as("m4"),
      expr("r4.n").as("n_final"))
    def topHalf(df: DataFrame, m: String, keep: Int): DataFrame =
      df.withColumn("rk", row_number().over(
          Ranks.bounded(col("config"), col(m).desc, col("config"))))
        .filter(col("rk") <= keep).drop("rk")
    val s1 = topHalf(scored, "m1", 8)
    val s2 = topHalf(s1, "m2", 4)
    val s3 = topHalf(s2, "m3", 2)
    val s4 = topHalf(s3, "m4", 1)
    scored.select(col("config"), col("m1"), col("n_final"))
      .join(s1.select(col("config"), lit(1L).as("past1")), Seq("config"), "left")
      .join(s2.select(col("config"), lit(1L).as("past2")), Seq("config"), "left")
      .join(s3.select(col("config"), lit(1L).as("past3")), Seq("config"), "left")
      .join(s4.select(col("config"), lit(1L).as("won")), Seq("config"), "left")
      .select(col("config"),
        (lit(1L) + coalesce(col("past1"), lit(0L)) + coalesce(col("past2"), lit(0L)) +
          coalesce(col("past3"), lit(0L))).as("rungs_survived"),
        coalesce(col("won"), lit(0L)).as("is_winner"),
        col("m1").as("rung1_mean_millicents"), col("n_final"))
      .orderBy(col("config"))
  }

  val q402Sql: String = {
    // Root-caused round 14: the divisor sum MUST be cast to BIGINT too.
    // DuckDB sums integers into HUGEINT, and `BIGINT * 1000 // HUGEINT`
    // is HUGEINT, so the whole CASE/coalesce — and the output column
    // rung1_mean_millicents — typed HUGEINT (int128). The repo's
    // fetchall()-based mimic saw exact Python ints and passed, but the
    // driver's pandas hasher sees HUGEINT → float64 vs Spark's int64
    // and hash-fails (CORRECTNESS_r13's one red row). Both operands of
    // every `//` whose quotient reaches the output must be BIGINT.
    def rung(r: Int): String = {
      val lim = 1L << (r - 1)
      s"""coalesce(CASE WHEN sum(CASE WHEN k < $lim THEN 1 ELSE 0 END) = 0
         |  THEN -4611686018427387904
         |  ELSE CAST(sum(CASE WHEN k < $lim THEN cents ELSE 0 END) AS BIGINT) * 1000
         |    // CAST(sum(CASE WHEN k < $lim THEN 1 ELSE 0 END) AS BIGINT) END,
         |  -4611686018427387904) AS m$r""".stripMargin
    }
    s"""WITH ev AS (
       |  SELECT user_id % 16 AS config,
       |    epoch_us(ts) // 604800000000 AS wk,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events
       |), w0 AS (SELECT min(wk) AS w0 FROM ev),
       |base AS (SELECT config, wk - w0.w0 AS k, cents FROM ev, w0),
       |scored AS (
       |  SELECT config, ${rung(1)}, ${rung(2)}, ${rung(3)}, ${rung(4)},
       |    CAST(sum(CASE WHEN k < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_final
       |  FROM base GROUP BY config
       |), s1 AS (SELECT config FROM scored
       |          QUALIFY row_number() OVER (ORDER BY m1 DESC, config) <= 8),
       |s2 AS (SELECT s.config FROM scored s JOIN s1 USING (config)
       |       QUALIFY row_number() OVER (ORDER BY s.m2 DESC, s.config) <= 4),
       |s3 AS (SELECT s.config FROM scored s JOIN s2 USING (config)
       |       QUALIFY row_number() OVER (ORDER BY s.m3 DESC, s.config) <= 2),
       |s4 AS (SELECT s.config FROM scored s JOIN s3 USING (config)
       |       QUALIFY row_number() OVER (ORDER BY s.m4 DESC, s.config) <= 1)
       |SELECT sc.config,
       |  CAST(1 + (CASE WHEN s1.config IS NOT NULL THEN 1 ELSE 0 END)
       |    + (CASE WHEN s2.config IS NOT NULL THEN 1 ELSE 0 END)
       |    + (CASE WHEN s3.config IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS rungs_survived,
       |  CAST(CASE WHEN s4.config IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_winner,
       |  sc.m1 AS rung1_mean_millicents, sc.n_final
       |FROM scored sc
       |LEFT JOIN s1 ON s1.config = sc.config
       |LEFT JOIN s2 ON s2.config = sc.config
       |LEFT JOIN s3 ON s3.config = sc.config
       |LEFT JOIN s4 ON s4.config = sc.config
       |ORDER BY sc.config""".stripMargin
  }

  // --------------------------------------------------------------- q403

  /** q403: DiD of mean order value (milli-dollars) — treatment =
    * BUILDING-segment customers, periods = span halves; plus the
    * placebo contrast between the first and second QUARTER of the pre
    * period (parallel-trends check). Scale shape: one orders→customer
    * broadcast join, conditional means, pure scalar math.
    */
  def q403_diff_in_diff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), (col("c_mktsegment") === "BUILDING").as("treated"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("treated"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100").as("dollars"))
    val span = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val cells = o.crossJoin(broadcast(span))
      .select(col("treated"), col("dollars"),
        (col("day") > expr("d0 + (d1 - d0) div 2")).as("post"),
        (col("day") <= expr("d0 + (d1 - d0) div 4")).as("q1"),
        (col("day") <= expr("d0 + (d1 - d0) div 2")).as("pre"))
    val agg = cells.agg(
        expr("sum(CASE WHEN treated AND post THEN dollars ELSE 0 END) * 1000 div " +
          "sum(CASE WHEN treated AND post THEN 1 ELSE 0 END)").as("t_post"),
        expr("sum(CASE WHEN treated AND NOT post THEN dollars ELSE 0 END) * 1000 div " +
          "sum(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END)").as("t_pre"),
        expr("sum(CASE WHEN NOT treated AND post THEN dollars ELSE 0 END) * 1000 div " +
          "sum(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END)").as("c_post"),
        expr("sum(CASE WHEN NOT treated AND NOT post THEN dollars ELSE 0 END) * 1000 div " +
          "sum(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END)").as("c_pre"),
        expr("sum(CASE WHEN treated AND pre AND NOT q1 THEN dollars ELSE 0 END) * 1000 div " +
          "sum(CASE WHEN treated AND pre AND NOT q1 THEN 1 ELSE 0 END)").as("t_q2"),
        expr("sum(CASE WHEN treated AND q1 THEN dollars ELSE 0 END) * 1000 div " +
          "sum(CASE WHEN treated AND q1 THEN 1 ELSE 0 END)").as("t_q1"),
        expr("sum(CASE WHEN NOT treated AND pre AND NOT q1 THEN dollars ELSE 0 END) * 1000 div " +
          "sum(CASE WHEN NOT treated AND pre AND NOT q1 THEN 1 ELSE 0 END)").as("c_q2"),
        expr("sum(CASE WHEN NOT treated AND q1 THEN dollars ELSE 0 END) * 1000 div " +
          "sum(CASE WHEN NOT treated AND q1 THEN 1 ELSE 0 END)").as("c_q1"))
    agg.select(col("t_pre"), col("t_post"), col("c_pre"), col("c_post"),
      ((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
        .as("did_milli"),
      ((col("t_q2") - col("t_q1")) - (col("c_q2") - col("c_q1")))
        .as("placebo_milli"))
  }

  val q403Sql: String =
    """WITH o AS (
      |  SELECT (c.c_mktsegment = 'BUILDING') AS treated,
      |    CAST(datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(round(o.o_totalprice * 100) AS BIGINT) // 100 AS dollars
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |), sp AS (SELECT min(day) AS d0, max(day) AS d1 FROM o),
      |cells AS (
      |  SELECT treated, dollars,
      |    (day > sp.d0 + (sp.d1 - sp.d0) // 2) AS post,
      |    (day <= sp.d0 + (sp.d1 - sp.d0) // 4) AS q1,
      |    (day <= sp.d0 + (sp.d1 - sp.d0) // 2) AS pre
      |  FROM o, sp
      |), agg AS (
      |  SELECT
      |    CAST(sum(CASE WHEN treated AND post THEN dollars ELSE 0 END) * 1000
      |      // sum(CASE WHEN treated AND post THEN 1 ELSE 0 END) AS BIGINT) AS t_post,
      |    CAST(sum(CASE WHEN treated AND NOT post THEN dollars ELSE 0 END) * 1000
      |      // sum(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS t_pre,
      |    CAST(sum(CASE WHEN NOT treated AND post THEN dollars ELSE 0 END) * 1000
      |      // sum(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END) AS BIGINT) AS c_post,
      |    CAST(sum(CASE WHEN NOT treated AND NOT post THEN dollars ELSE 0 END) * 1000
      |      // sum(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS c_pre,
      |    CAST(sum(CASE WHEN treated AND pre AND NOT q1 THEN dollars ELSE 0 END) * 1000
      |      // sum(CASE WHEN treated AND pre AND NOT q1 THEN 1 ELSE 0 END) AS BIGINT) AS t_q2,
      |    CAST(sum(CASE WHEN treated AND q1 THEN dollars ELSE 0 END) * 1000
      |      // sum(CASE WHEN treated AND q1 THEN 1 ELSE 0 END) AS BIGINT) AS t_q1,
      |    CAST(sum(CASE WHEN NOT treated AND pre AND NOT q1 THEN dollars ELSE 0 END) * 1000
      |      // sum(CASE WHEN NOT treated AND pre AND NOT q1 THEN 1 ELSE 0 END) AS BIGINT) AS c_q2,
      |    CAST(sum(CASE WHEN NOT treated AND q1 THEN dollars ELSE 0 END) * 1000
      |      // sum(CASE WHEN NOT treated AND q1 THEN 1 ELSE 0 END) AS BIGINT) AS c_q1
      |  FROM cells
      |)
      |SELECT t_pre, t_post, c_pre, c_post,
      |  (t_post - t_pre) - (c_post - c_pre) AS did_milli,
      |  (t_q2 - t_q1) - (c_q2 - c_q1) AS placebo_milli
      |FROM agg""".stripMargin

  // --------------------------------------------------------------- q404

  /** q404: per source — staged-corpus docs and tokens removed by
    * keep-first dedup of the q42 clusters (survivor = min id = the
    * base doc; the +100000/+200000 variants carry 3 and 6 fewer
    * tokens respectively, by the staging construction). The DROP-side
    * dividend that q337's keep-and-reweight alternative forgoes —
    * ≈ 2/3 of the staged tokens. Scale shape: the ≤90-row cluster
    * frame joins the base docs' token counts; one source rollup.
    */
  def q404_dedup_savings(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("base_tokens"))
    val clusters = ExtensionQueries2.q42ClustersStaged(s, dir)
      .select(col("id"), col("rep"), (col("id") % 100000L).as("base_id"),
        (col("id") / 100000L).cast("long").as("variant"))
    val keeps = clusters.groupBy(col("rep")).agg(min(col("id")).as("keep"))
    clusters.join(keeps, "rep")
      .join(broadcast(base), col("base_id") === col("doc_id"))
      .select(col("source"),
        (col("base_tokens") - col("variant") * 3).as("n_tokens"),
        (col("id") =!= col("keep")).as("dropped"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_staged_docs"), sum(col("n_tokens")).as("tokens_total"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("docs_dropped"),
        sum(when(col("dropped"), col("n_tokens")).otherwise(0L)).as("tokens_dropped"))
      .withColumn("saving_ppm", expr("tokens_dropped * 1000000 div tokens_total"))
      .orderBy(col("source"))
  }

  val q404Sql: String =
    s"""${ExtensionQueries2.q42ClusterCtes},
       |keeps AS (SELECT rep, min(id) AS keep FROM lbl GROUP BY rep),
       |staged AS (
       |  SELECT l.id, l.rep, l.id % 100000 AS base_id, l.id // 100000 AS variant,
       |    (l.id <> k.keep) AS dropped
       |  FROM lbl l JOIN keeps k USING (rep)
       |), toks AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS base_tokens
       |  FROM documents
       |)
       |SELECT t.source, count(*) AS n_staged_docs,
       |  CAST(sum(t.base_tokens - st.variant * 3) AS BIGINT) AS tokens_total,
       |  CAST(sum(CASE WHEN st.dropped THEN 1 ELSE 0 END) AS BIGINT) AS docs_dropped,
       |  CAST(sum(CASE WHEN st.dropped THEN t.base_tokens - st.variant * 3
       |    ELSE 0 END) AS BIGINT) AS tokens_dropped,
       |  CAST(sum(CASE WHEN st.dropped THEN t.base_tokens - st.variant * 3
       |    ELSE 0 END) * 1000000 // sum(t.base_tokens - st.variant * 3) AS BIGINT)
       |    AS saving_ppm
       |FROM staged st JOIN toks t ON t.doc_id = st.base_id
       |GROUP BY t.source ORDER BY t.source""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q402_successive_halving", q402_successive_halving _, q402Sql),
    Query("q403_diff_in_diff", q403_diff_in_diff _, q403Sql),
    Query("q404_dedup_savings", q404_dedup_savings _, q404Sql)
  )
}
