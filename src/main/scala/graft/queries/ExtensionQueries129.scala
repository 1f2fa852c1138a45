package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.PrefixScan
import QueryBlocks.FuncWords

/** Probabilistic-forecast decomposition, THE rank
  * correlation, dedup locality, and the experiment guardrail.
  *
  *  - q476 Brier score with Murphy decomposition: the proper-score
  *    view of q446's calibration table — reliability (what q446's gap
  *    measures), resolution (what the bins BUY), uncertainty (the
  *    irreducible base-rate term), plus the exact binning/truncation
  *    residual instead of pretending the identity is integer-exact.
  *  - q477 Spearman ρ between customer spend and order count — the
  *    missing member of the rank-association family (q356 τ-b, q418
  *    footrule): Pearson on 2×midranks (ties exact, ×2 keeps them
  *    integer), emitted as q440's signed ρ²·10⁶.
  *  - q478 near-dup locality profile: |id_a − id_b| of exact-Jaccard
  *    pairs (J ≥ 0.5) bucketed by binary magnitude (length(bin(d)) —
  *    engine-identical integer log2) — WHERE duplicates live decides
  *    whether a bounded-window dedup (q117's SNM) can replace the
  *    global index at 100 TB.
  *  - q479 sample-ratio-mismatch check: LCG-assign users to two arms,
  *    exact χ² = (n_A − n_B)²·1000 div N in milli and the 3σ flag
  *    (n_A − n_B)² > 9N — the first guardrail every experiment
  *    readout (CUPED q379 etc.) must pass before effect estimates
  *    mean anything.
  *
  * Scale shapes: q476 one scan + decile PrefixScan (q446's shape);
  * q477 two value-rollup rank joins (hash, linear) + one 1-row agg;
  * q478 rides the capped pair index; q479 one distinct-user rollup.
  * Products ride DECIMAL(38,0) (HUGEINT mirror).
  */
object ExtensionQueries129 extends QueryGroup {

  // -------------------------------------------------------------- q476

  /** q476: forecast = function-word score (ppm, read as P[en]); bins =
    * score deciles by (score, doc_id) rank (q446's convention). All
    * terms in ppm with stated div truncations: brier = Σ(score −
    * pos·10⁶)² div (N·10⁶); rel = Σ n_b(conf_b − acc_b)² div (N·10⁶);
    * res = Σ n_b(acc_b − base)² div (N·10⁶); unc = base(10⁶ − base)
    * div 10⁶; residual = brier − (rel − res + unc) (binning +
    * truncation slack, NOT asserted zero).
    */
  def q476_brier_decomposition(s: SparkSession, dir: String): DataFrame = {
    val fw = FuncWords.map(w => s"'$w'").mkString(", ")
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), (col("lang") === "en").as("pos"),
        split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("pos"),
        expr(s"size(filter(ts, t -> t IN ($fw))) * 1000000 div size(ts)").as("score"))
    val ranked = PrefixScan.prefixSumsInclusive(scored, 16,
      Seq(col("score"), col("doc_id")), Seq((lit(1L), "i")))
    val tot = scored.agg(count(lit(1)).as("n"),
      sum(when(col("pos"), 1L).otherwise(0L)).as("a"),
      sum(expr("CAST(score - CASE WHEN pos THEN 1000000 ELSE 0 END AS DECIMAL(38,0)) * " +
        "(score - CASE WHEN pos THEN 1000000 ELSE 0 END)")).as("sq"))
    val bins = ranked.crossJoin(broadcast(tot))
      .select(expr("(i - 1) * 10 div n").as("decile"), col("score"), col("pos"),
        col("n"), col("a"))
      .groupBy(col("decile"), col("n"), col("a"))
      .agg(count(lit(1)).as("n_b"), sum(col("score")).as("ssum"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("a_b"))
      .select(col("n"), col("a"), col("n_b"),
        expr("ssum div n_b").as("conf"), expr("a_b * 1000000 div n_b").as("acc"),
        expr("a * 1000000 div n").as("base"))
    val parts = bins.groupBy(col("n"), col("a"), col("base"))
      .agg(sum(expr("CAST(n_b AS DECIMAL(38,0)) * (conf - acc) * (conf - acc)")).as("reln"),
        sum(expr("CAST(n_b AS DECIMAL(38,0)) * (acc - base) * (acc - base)")).as("resn"))
    parts.crossJoin(broadcast(tot.select(col("sq"))))
      .select(col("n").as("n_docs"), col("base").as("base_ppm"),
        expr("CAST(sq div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)").as("brier_ppm"),
        expr("CAST(reln div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)").as("rel_ppm"),
        expr("CAST(resn div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)").as("res_ppm"),
        expr("base * (1000000 - base) div 1000000").as("unc_ppm"))
      .withColumn("residual_ppm",
        col("brier_ppm") - (col("rel_ppm") - col("res_ppm") + col("unc_ppm")))
  }

  val q476Sql: String = {
    val fw = FuncWords.map(w => s"'$w'").mkString(", ")
    s"""WITH scored AS (
       |  SELECT doc_id, (lang = 'en') AS pos,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($fw)))
       |      AS BIGINT) * 1000000 // len(string_split(text, ' ')) AS score
       |  FROM documents
       |), tot AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CAST(score - CASE WHEN pos THEN 1000000 ELSE 0 END AS HUGEINT)
       |      * (score - CASE WHEN pos THEN 1000000 ELSE 0 END)) AS HUGEINT) AS sq
       |  FROM scored
       |), ranked AS (
       |  SELECT pos, score,
       |    CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS i
       |  FROM scored
       |), bins AS (
       |  SELECT (i - 1) * 10 // tot.n AS decile, count(*) AS n_b,
       |    CAST(sum(score) AS BIGINT) // count(*) AS conf,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |      // count(*) AS acc
       |  FROM ranked, tot GROUP BY 1, tot.n
       |), parts AS (
       |  SELECT CAST(sum(CAST(n_b AS HUGEINT) * (conf - acc) * (conf - acc)) AS HUGEINT) AS reln,
       |    CAST(sum(CAST(n_b AS HUGEINT) * (acc - t.base) * (acc - t.base)) AS HUGEINT) AS resn
       |  FROM bins, (SELECT a * 1000000 // n AS base FROM tot) t
       |), f AS (
       |  SELECT tot.n AS n_docs, tot.a * 1000000 // tot.n AS base_ppm,
       |    CAST(tot.sq // (CAST(tot.n AS HUGEINT) * 1000000) AS BIGINT) AS brier_ppm,
       |    CAST(parts.reln // (CAST(tot.n AS HUGEINT) * 1000000) AS BIGINT) AS rel_ppm,
       |    CAST(parts.resn // (CAST(tot.n AS HUGEINT) * 1000000) AS BIGINT) AS res_ppm,
       |    (tot.a * 1000000 // tot.n) * (1000000 - tot.a * 1000000 // tot.n)
       |      // 1000000 AS unc_ppm
       |  FROM tot, parts
       |)
       |SELECT n_docs, base_ppm, brier_ppm, rel_ppm, res_ppm, unc_ppm,
       |  brier_ppm - (rel_ppm - res_ppm + unc_ppm) AS residual_ppm
       |FROM f""".stripMargin
  }

  // -------------------------------------------------------------- q477

  /** q477: 2×midranks per variable from ONE value rollup each (r2(v) =
    * 2·(#less) + (#equal) + 1 — integer, ties exact), joined per
    * customer, then CENTERED (cx = r2 − (N+1), integer — Σr2 = N(N+1)
    * exactly) so covariance needs no N· blow-up. ρ²·10⁶ in the stated
    * two-step form sign·((Σcxcy·10⁶ div Σcx²)·Σcxcy div Σcy²) — ONE
    * big square (Σcxcy·10⁶ ≲ N³·10⁶) instead of (N·Σxy)², which the
    * first cut paid and DECIMAL(38,0) rejected at sf0.1 (the q465
    * lesson; ANSI errored rather than wrapping).
    */
  def q477_spearman_rho(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))").as("spend"),
        count(lit(1)).as("cnt"))
      .transform(graft.core.CacheScope.scoped)
    def midranks2(valueCol: String, out: String): DataFrame = {
      val counts = cust.groupBy(col(valueCol)).agg(count(lit(1)).as("eq"))
      val cum = PrefixScan.prefixSumsInclusive(counts, 16,
        Seq(col(valueCol)), Seq((col("eq"), "cumeq")))
      cum.select(col(valueCol), (lit(2L) * (col("cumeq") - col("eq")) + col("eq") + 1L).as(out))
    }
    val n1 = cust.agg((count(lit(1)) + 1L).as("np1"))
    val joined = cust
      .join(midranks2("spend", "rx"), Seq("spend"))
      .join(midranks2("cnt", "ry"), Seq("cnt"))
      .crossJoin(broadcast(n1))
      .select((col("rx") - col("np1")).as("cx"), (col("ry") - col("np1")).as("cy"))
    joined.agg(count(lit(1)).as("n"),
        sum(expr("CAST(cx AS DECIMAL(38,0)) * cy")).as("sxy"),
        sum(expr("CAST(cx AS DECIMAL(38,0)) * cx")).as("sxx"),
        sum(expr("CAST(cy AS DECIMAL(38,0)) * cy")).as("syy"))
      .select(col("n").as("n_customers"),
        expr("CAST(sxy AS BIGINT)").as("rank_cov"),
        expr("CAST(CASE WHEN sxy < 0 THEN -1 ELSE 1 END * " +
          "((sxy * 1000000 div sxx) * sxy div syy) AS BIGINT)").as("rho2_signed_ppm"))
  }

  val q477Sql: String =
    """WITH cust AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend,
      |    count(*) AS cnt
      |  FROM orders GROUP BY o_custkey
      |), rx AS (
      |  SELECT spend, CAST(2 * (sum(count(*)) OVER (ORDER BY spend) - count(*))
      |    + count(*) + 1 AS BIGINT) AS rx
      |  FROM cust GROUP BY spend
      |), ry AS (
      |  SELECT cnt, CAST(2 * (sum(count(*)) OVER (ORDER BY cnt) - count(*))
      |    + count(*) + 1 AS BIGINT) AS ry
      |  FROM cust GROUP BY cnt
      |), np1 AS (SELECT count(*) + 1 AS np1 FROM cust),
      |j AS (
      |  SELECT rx.rx - np1.np1 AS cx, ry.ry - np1.np1 AS cy FROM cust
      |  JOIN rx ON cust.spend = rx.spend JOIN ry ON cust.cnt = ry.cnt, np1
      |), agg AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CAST(cx AS HUGEINT) * cy) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(cx AS HUGEINT) * cx) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(cy AS HUGEINT) * cy) AS HUGEINT) AS syy
      |  FROM j
      |)
      |SELECT n AS n_customers,
      |  CAST(sxy AS BIGINT) AS rank_cov,
      |  CAST(CASE WHEN sxy < 0 THEN -1 ELSE 1 END *
      |    ((sxy * 1000000 // sxx) * sxy // syy) AS BIGINT) AS rho2_signed_ppm
      |FROM agg""".stripMargin

  // -------------------------------------------------------------- q478

  /** q478: near-dup pairs at J ≥ 0.5; bucket =
    * length(bin(|id_a − id_b|)) = floor(log2 d) + 1 (d ≥ 1 — distinct
    * ids). Per bucket: pairs, min/max distance, share_ppm.
    *
    * Pair enumeration is the PPJoin prefix-filtered exact join
    * ([[graft.ext.SetSimJoin.jaccardJoin]], q109's certified operator),
    * not q26's capped inverted index, whose sub-cap pair mass measured
    * ~quadratic at the sf1x rung (85× bytes for 10× docs): at t = 0.5 only the rarest ~half of
    * each shingle set is indexed and the positional filter prunes
    * before verification, so candidate mass tracks the TRUE near-dup
    * mass instead of the corpus's shared-common-shingle mass. Exact
    * string-shingle Jaccard (no hash, no cap) — the same pair set,
    * from the generator that survives the next rung.
    */
  def q478_dup_locality(s: SparkSession, dir: String): DataFrame = {
    // shared staged frame (see ExtensionQueries9.ppjoinPairsStaged)
    val pairs = ExtensionQueries9.ppjoinPairsStaged(s, dir)
      .select((col("id_b") - col("id_a")).as("d"))
      .select(expr("length(bin(d))").cast("long").as("bucket"), col("d"))
    val tot = pairs.agg(count(lit(1)).as("n_pairs_total"))
    pairs.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), min(col("d")).as("min_d"), max(col("d")).as("max_d"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_pairs"), col("min_d"), col("max_d"),
        expr("n_pairs * 1000000 div n_pairs_total").as("share_ppm"))
      .orderBy(col("bucket"))
  }

  val q478Sql: String =
    s"""WITH sh AS MATERIALIZED (
       |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
       |    range(1, len(string_split(text,' ')) - 1),
       |    sh_i -> array_to_string(list_slice(string_split(text,' '), sh_i, sh_i + 2), ' ')))) AS sh
       |  FROM documents WHERE len(string_split(text,' ')) >= 3
       |), sizes AS (SELECT id, count(*) AS nsh FROM sh GROUP BY id),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY 1, 2
       |), hits AS (
       |  SELECT id_b - id_a AS d
       |  FROM pairs JOIN sizes na ON id_a = na.id JOIN sizes nb ON id_b = nb.id
       |  WHERE CAST(inter AS BIGINT) * 1000000 >= 500000 * (na.nsh + nb.nsh - inter)
       |), b AS (
       |  SELECT CAST(length(bin(d)) AS BIGINT) AS bucket, d FROM hits
       |), tot AS (SELECT count(*) AS n_pairs_total FROM hits)
       |SELECT bucket, count(*) AS n_pairs,
       |  CAST(min(d) AS BIGINT) AS min_d, CAST(max(d) AS BIGINT) AS max_d,
       |  count(*) * 1000000 // tot.n_pairs_total AS share_ppm
       |FROM b, tot GROUP BY bucket, tot.n_pairs_total ORDER BY bucket""".stripMargin

  // -------------------------------------------------------------- q479

  /** q479: arms = ((user_id·69069 + 1) % 2³¹) % 2 over distinct event
    * users; χ²_milli = (n_A − n_B)²·1000 div N (df 1 vs 50/50);
    * srm_flag = (n_A − n_B)² > 9N (the 3σ rule, exact).
    */
  def q479_srm_check(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).select(col("user_id")).distinct()
      .select(expr("((user_id * 69069 + 1) % 2147483648) % 2").as("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_users"), col("n_a"), col("n_b"),
        expr("CAST(CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b) * 1000 div n_users AS BIGINT)")
          .as("chi2_milli"),
        expr("CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b) > 9 * CAST(n_users AS DECIMAL(38,0))")
          .as("srm_flag"))
  }

  val q479Sql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |arms AS (
      |  SELECT ((user_id * 69069 + 1) % 2147483648) % 2 AS arm FROM u
      |), agg AS (
      |  SELECT count(*) AS n_users,
      |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM arms
      |)
      |SELECT n_users, n_a, n_b,
      |  CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000 // n_users AS BIGINT)
      |    AS chi2_milli,
      |  CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) > 9 * CAST(n_users AS HUGEINT)
      |    AS srm_flag
      |FROM agg""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q476_brier_decomposition", q476_brier_decomposition _, q476Sql),
    Query("q477_spearman_rho", q477_spearman_rho _, q477Sql),
    Query("q478_dup_locality", q478_dup_locality _, q478Sql),
    Query("q479_srm_check", q479_srm_check _, q479Sql)
  )
}
