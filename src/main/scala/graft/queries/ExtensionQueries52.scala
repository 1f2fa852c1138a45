package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Sessions

/** Governance, debuggability, and encoding health —
  * exact-integer, DuckDB-oracle-gated.
  *
  *  - q249: right-to-be-forgotten purge audit — residual rows per
  *    table for a tombstoned-user set.
  *  - q250: path exemplars — one deterministic replay session per
  *    (entry, exit) path.
  *  - q251: encoding health — UTF-8 byte overhead per source.
  */
object ExtensionQueries52 extends QueryGroup {

  // --------------------------------------------------------------- q249

  /** q249: right-to-be-forgotten purge audit — with the tombstone set
    * "users ≡ 0 mod 97" (a stand-in for a deletion-request table), the
    * residual row count per table that still references those users,
    * plus the table's total and the residue in ppm. Zero everywhere is
    * the compliance certificate; anything else names the table the
    * purge job missed. Events is the only user-keyed table in this
    * schema, so orders/customer audit the CUSTOMER tombstones
    * (custkey ≡ 0 mod 97) — the report is one row per (table,
    * tombstone-domain) relationship, exactly like a production purge
    * matrix.
    *
    * Scale shape: each audit is one filtered count over a
    * column-pruned scan (the tombstone predicate is arithmetic — with
    * a real deletion table it becomes a broadcast semi-join);
    * one-row folds union into the matrix.
    */
  def q249_purge_audit(s: SparkSession, dir: String): DataFrame = {
    def audit(df: DataFrame, keyCol: String, table: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        sum(when(col(keyCol) % 97 === 0, 1L).otherwise(0L)).as("n_residual"))
        .select(lit(table).as("table_name"), col("n_rows"), col("n_residual"),
          expr("n_residual * 1000000 div n_rows").as("residual_ppm"))
    audit(Tables.events(s, dir), "user_id", "events")
      .unionByName(audit(Tables.orders(s, dir), "o_custkey", "orders"))
      .unionByName(audit(Tables.customer(s, dir), "c_custkey", "customer"))
      .orderBy(col("table_name"))
  }

  val q249Sql: String =
    """SELECT 'customer' AS table_name, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_residual,
      |  CAST(sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT) AS residual_ppm
      |FROM customer
      |UNION ALL
      |SELECT 'events', count(*),
      |  CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT)
      |FROM events
      |UNION ALL
      |SELECT 'orders', count(*),
      |  CAST(sum(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(sum(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END) * 1000000
      |    // count(*) AS BIGINT)
      |FROM orders
      |ORDER BY table_name""".stripMargin

  // --------------------------------------------------------------- q250

  /** q250: path exemplars — for each (entry, exit) session path of
    * q186, ONE deterministic replay exemplar: the session with the
    * smallest (user_id, session_id) key, with its event count and
    * exact duration. Debugging starts from a concrete trace, and a
    * DETERMINISTIC pick means two engineers paging through the same
    * dashboard replay the same session.
    *
    * Scale shape: q186's island windows; the exemplar is a struct-min
    * fold per path — no per-path sort, no row_number over the session
    * population.
    */
  def q250_path_exemplars(s: SparkSession, dir: String): DataFrame = {
    val sessions = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .transform(Sessions.flag)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("us"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        max(struct(col("us"), col("event_id"), col("event_type")))
          .getField("event_type").as("exit_type"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
    sessions.groupBy(col("entry_type"), col("exit_type"))
      .agg(count(lit(1)).as("n_sessions"),
        min(struct(col("user_id"), col("session_id"), col("n_events"),
          col("duration_us"))).as("ex"))
      .select(col("entry_type"), col("exit_type"), col("n_sessions"),
        col("ex.user_id").as("exemplar_user"),
        col("ex.session_id").as("exemplar_session"),
        col("ex.n_events").as("exemplar_events"),
        col("ex.duration_us").as("exemplar_duration_us"))
      .orderBy(col("entry_type"), col("exit_type"))
  }

  val q250Sql: String =
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
      |    count(*) OVER (PARTITION BY user_id, session_id) AS n_events,
      |    max(us) OVER (PARTITION BY user_id, session_id)
      |      - min(us) OVER (PARTITION BY user_id, session_id)
      |      AS duration_us
      |  FROM g
      |), sess AS (
      |  SELECT user_id, session_id,
      |    min(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
      |    min(CASE WHEN rn_z = 1 THEN event_type END) AS exit_type,
      |    min(n_events) AS n_events, min(duration_us) AS duration_us
      |  FROM o GROUP BY user_id, session_id
      |), rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY entry_type, exit_type
      |    ORDER BY user_id, session_id) AS rn
      |  FROM sess
      |), nn AS (
      |  SELECT entry_type, exit_type, count(*) AS n_sessions
      |  FROM sess GROUP BY entry_type, exit_type
      |)
      |SELECT rk.entry_type, rk.exit_type, n_sessions,
      |  user_id AS exemplar_user, session_id AS exemplar_session,
      |  CAST(n_events AS BIGINT) AS exemplar_events,
      |  CAST(duration_us AS BIGINT) AS exemplar_duration_us
      |FROM rk JOIN nn ON rk.entry_type = nn.entry_type
      |  AND rk.exit_type = nn.exit_type
      |WHERE rn = 1
      |ORDER BY rk.entry_type, rk.exit_type""".stripMargin

  // --------------------------------------------------------------- q251

  /** q251: encoding health per source — characters vs UTF-8 bytes per
    * source: `extra_bytes_ppm = (bytes − chars)·10⁶ div chars` (the
    * multibyte overhead; 0 = pure ASCII, certified by a boolean). A
    * corpus that suddenly grows overhead changed its language mix or
    * its encoder — and byte-budgeted token pipelines care directly.
    * Both engines count IDENTICALLY: `length` is codepoints and
    * octet/strlen bytes.
    *
    * Scale shape: one documents pass, source-keyed sums — the scan is
    * column-pruned to (source, text).
    */
  def q251_encoding_health(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("source"), length(col("text")).cast("long").as("nc"),
        octet_length(col("text")).cast("long").as("nb"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
        sum(col("nb")).as("n_bytes"))
      .select(col("source"), col("n_docs"), col("n_chars"), col("n_bytes"),
        expr("(n_bytes - n_chars) * 1000000 div n_chars")
          .as("extra_bytes_ppm"),
        (col("n_bytes") === col("n_chars")).as("pure_ascii"))
      .orderBy(col("source"))
  }

  val q251Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
      |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
      |  CAST((sum(strlen(text)) - sum(length(text))) * 1000000
      |    // sum(length(text)) AS BIGINT) AS extra_bytes_ppm,
      |  sum(strlen(text)) = sum(length(text)) AS pure_ascii
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q249_purge_audit", q249_purge_audit _, q249Sql),
    Query("q250_path_exemplars", q250_path_exemplars _, q250Sql),
    Query("q251_encoding_health", q251_encoding_health _, q251Sql)
  )
}
