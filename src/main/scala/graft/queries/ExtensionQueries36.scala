package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 24: sequence-model eval, optimizer-stats calibration,
  * and join diagnostics — exact-integer, DuckDB-oracle-gated.
  *
  *  - q201: Markov next-event prediction accuracy — closes the q122
  *    loop: mine the transition matrix, predict, score it exactly.
  *  - q202: histogram selectivity calibration — the CBO primitive:
  *    estimate predicate cardinality from the q169 equi-width buckets,
  *    compare to truth.
  *  - q203: join skew diagnosis — per-key fan-out report that feeds the
  *    SkewJoin salting decision.
  */
object ExtensionQueries36 extends QueryGroup {

  // --------------------------------------------------------------- q201

  /** q201: Markov next-event predictor accuracy — train q122's adjacent
    * transition counts, predict each event's successor as the argmax
    * next type from the CURRENT type (ties break alphabetically), and
    * score per current-type accuracy in exact ppm. The eval half of the
    * sequence tier: the transition matrix is only useful if argmax
    * beats the base rate, and this measures exactly that (the majority
    * baseline rides along for comparison).
    *
    * Scale shape: transitions come from ONE user-partitioned lead
    * window (q122's discipline); the model is a |types|²-bounded
    * aggregate whose argmax folds via struct-max; scoring joins each
    * transition to the 5-row model by current type — broadcast. No
    * second pass over events.
    */
  def q201_markov_accuracy(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("cur"), col("next_type"))
    val model = trans.groupBy(col("cur"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("cur"))
      // argmax by count, ties to the alphabetically SMALLEST next type:
      // min over (-n, type) picks the larger n, then the smaller type
      .agg(min(struct((-col("n")).as("negn"), col("next_type").as("nt")))
        .as("best"))
      .select(col("cur"), col("best").getField("nt").as("predicted"))
    trans.join(broadcast(model), "cur")
      .groupBy(col("cur"), col("predicted"))
      .agg(count(lit(1)).as("n_transitions"),
        sum(when(col("next_type") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("cur"), col("predicted"), col("n_transitions"),
        col("n_correct"),
        expr("n_correct * 1000000 div n_transitions").as("accuracy_ppm"))
      .orderBy(col("cur"))
  }

  val q201Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |  FROM events
      |), tr AS (
      |  SELECT event_type AS cur,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id) AS next_type
      |  FROM e
      |  QUALIFY next_type IS NOT NULL
      |), cnt AS (
      |  SELECT cur, next_type, count(*) AS n FROM tr GROUP BY cur, next_type
      |), model AS (
      |  SELECT cur, next_type AS predicted,
      |    row_number() OVER (PARTITION BY cur ORDER BY n DESC, next_type)
      |      AS rn
      |  FROM cnt
      |)
      |SELECT tr.cur, m.predicted, count(*) AS n_transitions,
      |  CAST(sum(CASE WHEN tr.next_type = m.predicted THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_correct,
      |  CAST(sum(CASE WHEN tr.next_type = m.predicted THEN 1 ELSE 0 END)
      |    * 1000000 // count(*) AS BIGINT) AS accuracy_ppm
      |FROM tr JOIN model m ON tr.cur = m.cur AND m.rn = 1
      |GROUP BY tr.cur, m.predicted
      |ORDER BY tr.cur""".stripMargin

  // --------------------------------------------------------------- q202

  /** q202: histogram selectivity calibration — build the q169-style
    * 20-bucket equi-width histogram over order values, then for each
    * probe threshold estimate `count(value ≥ t)` the way a CBO would
    * (full buckets above t, plus the t-bucket prorated uniformly —
    * exact integer proration `cnt·(hi+1−t) div width`), and report
    * estimated vs actual with signed error in ppm of the table. The
    * optimizer-statistics primitive: q111 calibrates join sizes, this
    * calibrates filter selectivity.
    *
    * Scale shape: ONE scan builds the histogram (bucket-keyed count);
    * actual counts for all probes come from the SAME bucket frame where
    * possible plus one probe-filtered count pass — here both estimate
    * and actual derive from one aggregate each over value-keyed counts;
    * probes are a 3-row broadcast.
    */
  def q202_selectivity_eval(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
    val mm = o.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"),
      count(lit(1)).as("total"))
    val buckets = o.crossJoin(broadcast(mm))
      .select(expr("(cents - mn) * 20 div (mx - mn + 1)").as("b"),
        col("cents"), col("mn"), col("mx"), col("total"))
      .groupBy(col("b"), col("mn"), col("mx"), col("total"))
      .agg(count(lit(1)).as("cnt"))
    val probes = s.createDataFrame(Seq(Tuple1(25L), Tuple1(50L), Tuple1(75L)))
      .toDF("pct")
    // probe threshold t = mn + pct% of the range (integer)
    val withT = buckets.crossJoin(broadcast(probes))
      .withColumn("t", expr("mn + (mx - mn + 1) * pct div 100"))
      .withColumn("lo", expr("mn + b * (mx - mn + 1) div 20"))
      .withColumn("hi", expr("mn + (b + 1) * (mx - mn + 1) div 20 - 1"))
    val est = withT
      .select(col("pct"), col("t"), col("total"),
        when(col("lo") >= col("t"), col("cnt"))
          .when(col("hi") < col("t"), lit(0L))
          .otherwise(expr("cnt * (hi + 1 - t) div (hi + 1 - lo)"))
          .as("part"))
      .groupBy(col("pct"), col("t"), col("total"))
      .agg(sum(col("part")).as("estimated"))
    val actual = o.crossJoin(broadcast(probes)).crossJoin(broadcast(mm))
      .withColumn("t", expr("mn + (mx - mn + 1) * pct div 100"))
      .filter(col("cents") >= col("t"))
      .groupBy(col("pct")).agg(count(lit(1)).as("actual"))
    est.join(actual, Seq("pct"), "left")
      .na.fill(0L, Seq("actual"))
      .select(col("pct"), col("t").as("threshold_cents"), col("estimated"),
        col("actual"),
        expr("(estimated - actual) * 1000000 div total").as("err_ppm"))
      .orderBy(col("pct"))
  }

  val q202Sql: String =
    """WITH o AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
      |), mm AS (
      |  SELECT min(cents) AS mn, max(cents) AS mx, count(*) AS total FROM o
      |), bk AS (
      |  SELECT (cents - mn) * 20 // (mx - mn + 1) AS b, mn, mx, total,
      |    count(*) AS cnt
      |  FROM o, mm GROUP BY b, mn, mx, total
      |), probes AS (SELECT unnest([25, 50, 75]::BIGINT[]) AS pct
      |), wt AS (
      |  SELECT pct, mn + (mx - mn + 1) * pct // 100 AS t,
      |    mn + b * (mx - mn + 1) // 20 AS lo,
      |    mn + (b + 1) * (mx - mn + 1) // 20 - 1 AS hi,
      |    cnt, total
      |  FROM bk, probes
      |), est AS (
      |  SELECT pct, t, total,
      |    CAST(sum(CASE WHEN lo >= t THEN cnt
      |      WHEN hi < t THEN 0
      |      ELSE cnt * (hi + 1 - t) // (hi + 1 - lo) END) AS BIGINT)
      |      AS estimated
      |  FROM wt GROUP BY pct, t, total
      |), act AS (
      |  SELECT pct, count(*) AS actual
      |  FROM o, mm, probes
      |  WHERE cents >= mn + (mx - mn + 1) * pct // 100
      |  GROUP BY pct
      |)
      |SELECT est.pct, t AS threshold_cents, estimated,
      |  CAST(COALESCE(actual, 0) AS BIGINT) AS actual,
      |  CAST((estimated - COALESCE(actual, 0)) * 1000000 // total AS BIGINT)
      |    AS err_ppm
      |FROM est LEFT JOIN act ON est.pct = act.pct
      |ORDER BY est.pct""".stripMargin

  // --------------------------------------------------------------- q203

  /** q203: join skew diagnosis — for the orders⋈lineitem key, the top
    * 10 hottest keys by per-key join fan-out (rowsₗ·rowsᵣ), each key's
    * share of the total join output in ppm, and the p99-style
    * concentration headline a planner reads before choosing
    * `SkewJoin.saltedJoin`. Exactly the report that justified the
    * engine's measured 3× salting win.
    *
    * Scale shape: per-key counts are two key-partitioned aggregates;
    * the fan-out join is on the KEY-COUNT frames (|keys| rows, not
    * row-level); total output size is a 1-row broadcast;
    * TakeOrderedAndProject for the top 10.
    */
  def q203_join_skew_report(s: SparkSession, dir: String): DataFrame = {
    val lc = Tables.lineitem(s, dir).groupBy(col("l_orderkey").as("key"))
      .agg(count(lit(1)).as("nl"))
    val oc = Tables.orders(s, dir).groupBy(col("o_orderkey").as("key"))
      .agg(count(lit(1)).as("no"))
    val fan = oc.join(lc, "key")
      .select(col("key"), col("no"), col("nl"),
        (col("no") * col("nl")).as("out_rows"))
    val total = fan.agg(sum(col("out_rows")).as("total_out"))
    fan.crossJoin(broadcast(total))
      .select(col("key"), col("no"), col("nl"), col("out_rows"),
        expr("out_rows * 1000000 div total_out").as("share_ppm"))
      .orderBy(col("out_rows").desc, col("key"))
      .limit(10)
  }

  val q203Sql: String =
    """WITH lc AS (
      |  SELECT l_orderkey AS key, count(*) AS nl FROM lineitem GROUP BY 1
      |), oc AS (
      |  SELECT o_orderkey AS key, count(*) AS no FROM orders GROUP BY 1
      |), fan AS (
      |  SELECT oc.key, no, nl, no * nl AS out_rows
      |  FROM oc JOIN lc ON oc.key = lc.key
      |), t AS (SELECT CAST(sum(out_rows) AS BIGINT) AS total_out FROM fan)
      |SELECT key, no, nl, out_rows,
      |  CAST(out_rows * 1000000 // total_out AS BIGINT) AS share_ppm
      |FROM fan, t
      |ORDER BY out_rows DESC, key
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q201_markov_accuracy", q201_markov_accuracy _, q201Sql),
    Query("q202_selectivity_eval", q202_selectivity_eval _, q202Sql),
    Query("q203_join_skew_report", q203_join_skew_report _, q203Sql)
  )
}
