package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{FpSafe, Tables}

/** Coverage batch 4: RANGE window frames, rank-distribution functions,
  * and the scalar string library.
  */
object RelationalQueries4 extends QueryGroup {
  import FpSafe._

  /** q39: RANGE frames (value-based windows — q16 covered ROWS frames):
    * per customer, rolling 30-day order count and exact revenue over the
    * epoch-day axis. Range frames include ALL peers in the value interval
    * regardless of row count — semantics rows-frames can't express.
    */
  def q39_range_frames(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-29, Window.currentRow)
    o.select(col("o_orderkey"), col("o_custkey"),
      (unix_date(to_date(col("o_orderdate")))).cast("long").as("day"),
      cents(col("o_totalprice")).as("pc"))
      .withColumn("n_30d", count(lit(1)).over(w))
      .withColumn("rev_30d", sum(col("pc")).over(w) / 100.0)
      .select(col("o_orderkey"), col("o_custkey"), col("day"), col("n_30d"), col("rev_30d"))
      .orderBy(col("o_orderkey"))
  }

  val q39Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
      |  count(*) OVER w AS n_30d,
      |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) OVER w AS BIGINT) / 100.0 AS rev_30d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** q40: rank-distribution functions — ntile quartiles, percent_rank,
    * cume_dist per order status, ties pinned by (price, orderkey).
    */
  def q40_rank_distributions(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    o.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy(col("o_orderkey"))
  }

  val q40Sql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** q41: scalar string library (SURVEY §2 F14 + the "absent beyond"
    * row): case mapping, padding, slicing, reverse, replace, position,
    * prefix tests — the everyday string surface, mirrored verbatim.
    */
  def q41_string_funcs(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    p.select(
      col("p_partkey"),
      upper(col("p_name")).as("u"),
      initcap(col("p_name")).as("ic"),
      lpad(col("p_brand"), 12, "-").as("lp"),
      rpad(col("p_type"), 10, ".").as("rp"),
      substring(col("p_name"), 2, 5).as("sub"),
      reverse(col("p_name")).as("rev"),
      replace(col("p_name"), lit(" "), lit("_")).as("und"),
      instr(col("p_name"), " ").cast("long").as("sp_pos"),
      col("p_name").startsWith("red").as("is_red"),
      length(col("p_name")).cast("long").as("len"),
      concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
      split(col("p_name"), " ").getItem(0).as("first_tok"))
      .orderBy(col("p_partkey"))
  }

  val q41Sql: String =
    """SELECT p_partkey,
      |  upper(p_name) AS u,
      |  -- initcap mirrors Spark: first letter of each space-separated word
      |  array_to_string(list_transform(string_split(lower(p_name), ' '),
      |    w -> upper(substring(w,1,1)) || substring(w,2)), ' ') AS ic,
      |  lpad(p_brand, 12, '-') AS lp,
      |  rpad(p_type, 10, '.') AS rp,
      |  substring(p_name, 2, 5) AS sub,
      |  reverse(p_name) AS rev,
      |  replace(p_name, ' ', '_') AS und,
      |  CAST(strpos(p_name, ' ') AS BIGINT) AS sp_pos,
      |  starts_with(p_name, 'red') AS is_red,
      |  CAST(length(p_name) AS BIGINT) AS len,
      |  concat_ws('|', p_brand, p_type) AS joined,
      |  string_split(p_name, ' ')[1] AS first_tok
      |FROM part ORDER BY p_partkey""".stripMargin

  /** q43: forward as-of join — each purchase picks up the user's NEXT error
    * event (earliest at-or-after). Implemented as the backward join over a
    * negated time axis; oracle: DuckDB ASOF with the comparison flipped.
    */
  def q43_asof_forward(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("us", expr("ts div 1000"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("us").as("err_us"), col("value").as("err_value"))
    graft.ops.AsofJoin.forward(purchases, errors, "user_id", "us", "err_us",
      Seq("err_us", "err_value"))
      .select(col("event_id"), col("user_id"), col("us"),
        col("asof_err_us").as("err_us"), col("asof_err_value").as("err_value"))
      .orderBy(col("event_id"))
  }

  val q43Sql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'purchase'
      |), er AS (
      |  SELECT user_id, epoch_us(ts) AS err_us, value AS err_value FROM events
      |  WHERE event_type = 'error'
      |)
      |SELECT p.event_id, p.user_id, p.us, er.err_us, er.err_value
      |FROM p ASOF LEFT JOIN er
      |  ON p.user_id = er.user_id AND p.us <= er.err_us
      |ORDER BY p.event_id""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q39_range_frames", q39_range_frames _, q39Sql),
    Query("q40_rank_distributions", q40_rank_distributions _, q40Sql),
    Query("q41_string_funcs", q41_string_funcs _, q41Sql),
    Query("q43_asof_forward", q43_asof_forward _, q43Sql)
  )
}
