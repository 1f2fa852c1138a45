package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Contract shared by every query-group object under `graft.queries`.
  *
  * A group lists its queries once, as [[Query]] entries: name, plan and
  * DuckDB oracle mirror together. Registration happens in exactly ONE
  * place — `SparkEntry.groups` — and both the production maps
  * (`SparkEntry.queries` / `oracleSqlFor`) and the contract
  * invariants (`ContractSpec`) are derived from that list. A group object
  * that exists on the classpath but is absent from the registry is caught
  * by ContractSpec's reflective classpath scan.
  */
trait QueryGroup {
  def entries: Seq[Query]

  /** The group's plans by name; a name listed twice throws. */
  final lazy val queries: Map[String, Query.Plan] = Query.plans(entries)
}

/** One registered query: its name (the key in `SparkEntry.queries`), its
  * plan, and its DuckDB mirror.
  */
final case class Query(name: String, plan: Query.Plan, oracle: Oracle)

object Query {
  type Plan = (SparkSession, String) => DataFrame

  /** A query with a static SQL mirror — all but the model-backed few. */
  def apply(name: String, plan: Plan, sql: String): Query = Query(name, plan, Oracle.Sql(sql))

  /** Plans by name. A name registered twice throws instead of letting one
    * entry silently shadow the other (what `Map ++` would do).
    */
  def plans(entries: Seq[Query]): Map[String, Plan] = {
    val repeated = entries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty, s"query names registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    entries.iterator.map(q => q.name -> q.plan).toMap
  }
}

/** A query's DuckDB mirror. Every registered query has one: a fixed SQL
  * string, or SQL generated from a model the query trains per data dir.
  */
sealed trait Oracle {
  /** The mirror for data dir `dir`; None while no model is trained for it. */
  def sqlFor(dir: String): Option[String]
}

object Oracle {
  final case class Sql(text: String) extends Oracle {
    def sqlFor(dir: String): Option[String] = Some(text)
  }

  /** A mirror embedding the literals of a model trained per dir, generated
    * AFTER the query has trained (Verify dumps oracle_sql.json last).
    * `mirror(dir)` is None until that dir's model exists, so a multi-dir
    * JVM never emits another dir's literals.
    */
  final case class Model(mirror: String => Option[String]) extends Oracle {
    def sqlFor(dir: String): Option[String] = mirror(dir)
  }
}
