package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-13 batch 16 (capstone pair).
  *
  *  - q400 the cross-table data-quality scorecard — ONE frame, one row
  *    per testdata table: row count, duplicate count on the declared
  *    primary key, and null-cell count across all columns. q89 checks
  *    declared constraints on one table; this is the warehouse-wide
  *    report a data platform actually pages on. Exact by construction
  *    — and it immediately earned its keep: the synthetic lineitem
  *    VIOLATES its TPC-H-style composite key (l_orderkey,
  *    l_linenumber repeats; 1401 collisions at sf0.001), pinned in
  *    the spec as a known corpus fact.
  *  - q401 AR(1) mean-reversion coefficient of daily revenue —
  *    φ = cov(r_t, r_{t−1})/var(r_{t−1}) in exact integer micro from
  *    the power sums over the lag-joined series (φ ≈ 0 ⇒ the revenue
  *    has no memory; φ → 1 ⇒ unit-root-ish persistence). The
  *    time-series diagnostic underneath q278's naive forecast and
  *    q386's trend test.
  */
object ExtensionQueries103 extends QueryGroup {

  // --------------------------------------------------------------- q400

  /** q400: (table, n_rows, pk_dups, null_cells) for every testdata
    * table. Scale shape: one scan + one count-style fold per table
    * (the pk-dup check is a distinct count, map-combined), 10-row
    * union.
    *
    * NULL-key semantics (pinned cross-engine, r13 advisory): a NULL in
    * any pk column counts as a violation — Spark's
    * `countDistinct(a, b)` excludes rows with a NULL in ANY key column,
    * so `n_rows - n_pk` charges every null-key row as a dup. The DuckDB
    * mirror therefore filters null-key rows out of its distinct count
    * too (bare `count(DISTINCT (a, b))` would count a struct with NULL
    * members as a value and silently diverge the day a key column goes
    * nullable — the one query whose purpose is catching dirty keys must
    * not depend on the corpus staying clean).
    */
  def q400_table_scorecard(s: SparkSession, dir: String): DataFrame = {
    def card(name: String, df: DataFrame, pk: Seq[String]): DataFrame = {
      val nulls = df.columns.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L))).reduce(_ + _)
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct(pk.head, pk.tail: _*).as("n_pk"),
          nulls.as("null_cells"))
        .select(lit(name).as("table_name"), col("n_rows"),
          (col("n_rows") - col("n_pk")).as("pk_dups"), col("null_cells"))
    }
    Seq(
      card("customer", Tables.customer(s, dir), Seq("c_custkey")),
      card("documents", Tables.documents(s, dir), Seq("doc_id")),
      card("embeddings", Tables.embeddings(s, dir), Seq("vec_id")),
      card("events", Tables.events(s, dir), Seq("event_id")),
      card("lineitem", Tables.lineitem(s, dir), Seq("l_orderkey", "l_linenumber")),
      card("nation", Tables.nation(s, dir), Seq("n_nationkey")),
      card("orders", Tables.orders(s, dir), Seq("o_orderkey")),
      card("part", Tables.part(s, dir), Seq("p_partkey")),
      card("region", Tables.region(s, dir), Seq("r_regionkey")),
      card("supplier", Tables.supplier(s, dir), Seq("s_suppkey"))
    ).reduce(_ unionAll _).orderBy(col("table_name"))
  }

  val q400Sql: String = {
    def card(name: String, pk: String, cols: Seq[String]): String = {
      val nulls = cols.map(c => s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)")
        .mkString(" + ")
      // null-key rows are excluded from the distinct count on BOTH
      // engines (mirrors Spark countDistinct) — see the scaladoc
      val keyNotNull = pk.split(",").map(_.trim)
        .map(c => s"$c IS NOT NULL").mkString(" AND ")
      s"""SELECT '$name' AS table_name, count(*) AS n_rows,
         |  CAST(count(*) - count(DISTINCT ($pk)) FILTER (WHERE $keyNotNull)
         |    AS BIGINT) AS pk_dups,
         |  CAST($nulls AS BIGINT) AS null_cells
         |FROM $name""".stripMargin
    }
    Seq(
      card("customer", "c_custkey",
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")),
      card("documents", "doc_id", Seq("doc_id", "text", "lang", "source", "n_chars")),
      card("embeddings", "vec_id", Seq("vec_id", "embedding", "label")),
      card("events", "event_id",
        Seq("event_id", "ts", "user_id", "event_type", "value", "props")),
      card("lineitem", "l_orderkey, l_linenumber",
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
          "l_linestatus", "l_shipdate")),
      card("nation", "n_nationkey", Seq("n_nationkey", "n_name", "n_regionkey")),
      card("orders", "o_orderkey",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")),
      card("part", "p_partkey",
        Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")),
      card("region", "r_regionkey", Seq("r_regionkey", "r_name")),
      card("supplier", "s_suppkey",
        Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    ).mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
  }

  // --------------------------------------------------------------- q401

  /** q401: AR(1) φ over the CONSECUTIVE-day pairs of the daily revenue
    * series (dollar units): φ_micro = (k·Σxy − ΣxΣy)·1e6 div
    * (k·Σx² − (Σx)²) with x = r_{t−1}, y = r_t. Scale shape: daily
    * rollup, a self-join on day+1 (calendar-bounded), one moment fold.
    */
  def q401_ar1_coefficient(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100").as("r"))
    val pairs = daily.as("a")
      .join(broadcast(daily.as("b")), col("b.day") === col("a.day") + 1)
      .select(col("a.r").as("x"), col("b.r").as("y"))
    pairs.agg(count(lit(1)).as("k"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .select(col("k"),
        expr("CAST((k * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000 " +
          "div (k * sxx - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)")
          .as("phi_micro"))
  }

  val q401Sql: String =
    """WITH daily AS (
      |  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100 AS r
      |  FROM orders GROUP BY 1
      |), pairs AS (
      |  SELECT a.r AS x, b.r AS y
      |  FROM daily a JOIN daily b ON b.day = a.day + 1
      |), m AS (
      |  SELECT count(*) AS k, CAST(sum(x) AS HUGEINT) AS sx,
      |    CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      |  FROM pairs
      |)
      |SELECT k,
      |  CAST((k * sxy - sx * sy) * 1000000 // (k * sxx - sx * sx) AS BIGINT)
      |    AS phi_micro
      |FROM m""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q400_table_scorecard", q400_table_scorecard _, q400Sql),
    Query("q401_ar1_coefficient", q401_ar1_coefficient _, q401Sql)
  )
}
