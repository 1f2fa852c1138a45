package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-11 batch 11: PII / compliance governance — detection,
  * redaction, and re-identification-risk audit. A 100 TB training
  * corpus ships with exactly these three jobs between crawl and
  * training.
  *
  * Determinism across engines: the PII is PLANTED (derived from doc_id
  * arithmetic appended to the text — both engines derive the identical
  * corpus, so accidental matches in the base text also count
  * identically); the regex subset is chosen inside the Java-regex ∩
  * RE2 common dialect (char classes, bounded repeats, `\b` — no
  * lookaround, no backrefs); redacted text is certified by md5
  * (lowercase hex in both engines), aggregated as distinct/min/max per
  * group so no raw text reaches the result.
  */
object ExtensionQueries73 extends QueryGroup {

  /** The planted-PII corpus: deterministic contact lines appended by
    * doc_id residue — emails on ≡0 (mod 10), IPv4s on ≡0 (mod 17),
    * phones on ≡0 (mod 23).
    */
  private def pii(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"),
      concat(col("text"),
        when(col("doc_id") % 10 === 0, concat(lit(" contact user"),
          col("doc_id"), lit("@mail"), col("doc_id") % 7,
          lit(".example.com"))).otherwise(lit("")),
        when(col("doc_id") % 17 === 0, concat(lit(" from 10."),
          col("doc_id") % 256, lit(".0."), col("doc_id") % 100))
          .otherwise(lit("")),
        when(col("doc_id") % 23 === 0, concat(lit(" call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("text"))

  private val piiTextSql: String =
    """text ||
      |  CASE WHEN doc_id % 10 = 0 THEN ' contact user' || doc_id ||
      |    '@mail' || (doc_id % 7) || '.example.com' ELSE '' END ||
      |  CASE WHEN doc_id % 17 = 0 THEN ' from 10.' || (doc_id % 256) ||
      |    '.0.' || (doc_id % 100) ELSE '' END ||
      |  CASE WHEN doc_id % 23 = 0 THEN ' call +1-555-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END""".stripMargin

  private val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val ipRe = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private val phoneRe = """\+1-555-\d{4}"""

  // --------------------------------------------------------------- q311

  /** q311: PII scan — per source: match counts by type and how many
    * documents carry ANY hit (the quarantine set size). Counting rides
    * `size(regexp_extract_all(..., 0))` (whole-match group), codegen'd.
    */
  def q311_pii_detect(s: SparkSession, dir: String): DataFrame = {
    def n(re: String): Column =
      size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long")
    pii(s, dir)
      .select(col("source"), n(emailRe).as("ne"), n(ipRe).as("ni"),
        n(phoneRe).as("np"))
      .groupBy(col("source"))
      .agg(sum(col("ne")).as("n_emails"), sum(col("ni")).as("n_ips"),
        sum(col("np")).as("n_phones"),
        sum(when(col("ne") + col("ni") + col("np") > 0, 1L).otherwise(0L))
          .as("n_docs_flagged"))
      .orderBy(col("source"))
  }

  val q311Sql: String =
    s"""WITH p AS (SELECT source, $piiTextSql AS text FROM documents),
       |c AS (SELECT source,
       |  len(regexp_extract_all(text, '$emailRe')) AS ne,
       |  len(regexp_extract_all(text, '$ipRe')) AS ni,
       |  len(regexp_extract_all(text, '$phoneRe')) AS np
       |  FROM p)
       |SELECT source, CAST(sum(ne) AS BIGINT) AS n_emails,
       |  CAST(sum(ni) AS BIGINT) AS n_ips,
       |  CAST(sum(np) AS BIGINT) AS n_phones,
       |  CAST(sum(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_flagged
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q312

  /** q312: redaction — the three patterns rewrite to typed tags, and
    * the RESULTING corpus is certified by md5 fingerprints (distinct
    * count + min + max per language): a single character of leaked or
    * over-redacted text anywhere flips a fingerprint.
    */
  def q312_pii_redact(s: SparkSession, dir: String): DataFrame = {
    val red = regexp_replace(regexp_replace(regexp_replace(col("text"),
      lit(emailRe), lit("<EMAIL>")), lit(ipRe), lit("<IP>")),
      lit(phoneRe), lit("<PHONE>"))
    pii(s, dir).select(col("lang"), md5(red).as("m"), length(red).as("len"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len").cast("long")).as("chars_sum"),
        countDistinct(col("m")).as("n_distinct"),
        min(col("m")).as("md5_min"), max(col("m")).as("md5_max"))
      .orderBy(col("lang"))
  }

  val q312Sql: String =
    s"""WITH p AS (SELECT lang, $piiTextSql AS text FROM documents),
       |r AS (SELECT lang, regexp_replace(regexp_replace(regexp_replace(text,
       |  '$emailRe', '<EMAIL>', 'g'), '$ipRe', '<IP>', 'g'),
       |  '$phoneRe', '<PHONE>', 'g') AS red FROM p)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(len(red)) AS BIGINT) AS chars_sum,
       |  count(DISTINCT md5(red)) AS n_distinct,
       |  min(md5(red)) AS md5_min, max(md5(red)) AS md5_max
       |FROM r GROUP BY lang ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q313

  /** q313: k-anonymity audit over the quasi-identifier (lang, source,
    * n_chars bucket-of-100): the anonymity-set-size histogram. Rows
    * with group_size < k are the re-identifiable population — the
    * number a release review reads first.
    */
  def q313_k_anonymity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"),
        expr("n_chars div 100").as("chars_bucket"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("group_size")).as("n_docs"))
      .orderBy(col("group_size"))

  val q313Sql: String =
    """WITH g AS (
      |  SELECT lang, source, n_chars // 100 AS b, count(*) AS group_size
      |  FROM documents GROUP BY 1, 2, 3)
      |SELECT group_size, count(*) AS n_groups,
      |  CAST(sum(group_size) AS BIGINT) AS n_docs
      |FROM g GROUP BY 1 ORDER BY group_size""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q311_pii_detect", q311_pii_detect _, q311Sql),
    Query("q312_pii_redact", q312_pii_redact _, q312Sql),
    Query("q313_k_anonymity", q313_k_anonymity _, q313Sql)
  )
}
