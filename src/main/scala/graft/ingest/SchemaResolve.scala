package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.UrlOps

/** Dynamic→canonical schema resolution — the reference's most distinctive
  * feature (SURVEY §1.3, §2 B1-B5): untrusted input headers are resolved to
  * a fixed canonical schema in four layers (slug match → synonyms → GA4
  * renames → URL value-sniffing), and missing canonical columns materialize
  * with defaults, never an error.
  *
  * All resolution is driver-side metadata work over `df.columns` plus one
  * bounded `limit(50)` sample for the value sniff — the data-plane output is
  * a pure `select(...)` projection, fully plan-friendly.
  */
object SchemaResolve {

  /** Canonical fields and their fill defaults (None = SQL null).
    * Mirrors CANON_FIELDS (`etl_merge.py:115-132`).
    */
  val CanonFields: Seq[(String, Option[String])] = Seq(
    "url" -> None, "status_code" -> None, "title" -> Some(""),
    "meta_description" -> Some(""), "click_depth" -> None, "inlinks" -> None,
    "word_count" -> None, "schema_types" -> Some(""), "clicks" -> None,
    "impressions" -> None, "ctr" -> None, "position" -> None, "users" -> None,
    "sessions" -> None, "engaged_sessions" -> None, "avg_engagement_time" -> None)

  /** Synonyms per canonical field (slugged), in PINNED priority order.
    * Mirrors SYNONYMS (`etl_merge.py:135-159`); the reference iterates a
    * Python set (arbitrary order under hash randomization) — we fix match
    * priority to declaration order, a documented determinism improvement
    * (SURVEY §4.3 class).
    */
  val Synonyms: Map[String, Seq[String]] = Map(
    "url" -> Seq("url", "address", "page", "pageurl", "landingpage",
      "pagelocation", "pagepath", "pagepathquerystring", "pagepath+querystring"),
    "status_code" -> Seq("statuscode", "status", "httpstatus"),
    "title" -> Seq("title", "title1", "pagetitle"),
    "meta_description" -> Seq("metadescription", "metadescription1", "description"),
    "click_depth" -> Seq("crawldepth", "depth", "clickdepth"),
    "inlinks" -> Seq("inlinks", "inboundlinks"),
    "word_count" -> Seq("wordcount", "words"),
    "schema_types" -> Seq("structureddata", "schematypes", "schema", "structuredcontent"),
    "clicks" -> Seq("clicks", "gscclicks", "totalclicks"),
    "impressions" -> Seq("impressions", "gscimpressions", "totalimpressions"),
    "ctr" -> Seq("ctr", "gscctr"),
    "position" -> Seq("position", "avgposition", "gscposition", "avgpos"),
    "users" -> Seq("users", "totalusers", "activeusers"),
    "sessions" -> Seq("sessions"),
    "engaged_sessions" -> Seq("engagedsessions"),
    "avg_engagement_time" -> Seq("avgengagementtime", "averagesessionduration",
      "averageengagementtime"))

  /** GA4 URL-header renames, first hit wins, only when no `url` column
    * exists. Mirrors `etl_merge.py:614-628`.
    */
  val Ga4UrlRenames: Seq[String] = Seq(
    "pageLocation", "Page", "Page path", "Page path + query string",
    "Page path and query string", "Page path and screen class",
    "Landing page", "Landing page + query string", "Landing page and query string")

  /** Lowercase + strip non-alphanumerics (`_slug`, `etl_merge.py:249-252`). */
  def slug(name: String): String =
    Option(name).getOrElse("").toLowerCase.filter(_.isLetterOrDigit)

  /** canonical → actual column (exact slug first, then synonyms).
    * Mirrors `resolve_columns` (`etl_merge.py:254-273`): first existing
    * column wins on slug collision.
    */
  def resolveColumns(columns: Seq[String], wanted: Seq[String]): Map[String, Option[String]] = {
    // last column wins per slug, like the reference's dict comprehension
    val existing = columns.map(c => slug(c) -> c).toMap
    wanted.map { canon =>
      val found = existing.get(slug(canon)).orElse(
        Synonyms.getOrElse(canon, Seq.empty).iterator
          .map(slug).flatMap(existing.get).take(1).toList.headOption)
      canon -> found
    }.toMap
  }

  /** URL-likeness value predicate (looks_url_like). */
  private def valueLooksUrlLike(v: String): Boolean = {
    val s = Option(v).getOrElse("").trim.toLowerCase
    s.startsWith("http://") || s.startsWith("https://") || s.startsWith("/")
  }

  /** Value-sniffing URL column autodetection (`etl_merge.py:175-219`):
    * sample the first 50 rows; synonym-named columns need
    * ≥ max(3, 10% of sample) URL-like hits; otherwise the best column with
    * ≥ 3 hits. Driver-side, bounded, deterministic (head-of-file sample).
    */
  def autodetectUrlColumn(df: DataFrame): Option[String] = {
    val cols = df.columns.toSeq.filter(c => slug(c).nonEmpty && !c.trim.startsWith("#"))
    if (cols.isEmpty) return None
    val sample = df.select(cols.map(c => col(s"`$c`")): _*).limit(50).collect()
    def hits(c: String): Int = {
      val i = cols.indexOf(c)
      sample.count(r => !r.isNullAt(i) && valueLooksUrlLike(r.getString(i)))
    }
    val slugToCol = scala.collection.mutable.LinkedHashMap.empty[String, String]
    cols.foreach(c => slugToCol.getOrElseUpdate(slug(c), c))
    val urlSyns = Synonyms("url") :+ "url"
    val threshold = math.max(3, (sample.length * 0.1).toInt)
    urlSyns.flatMap(s => slugToCol.get(slug(s))).find(c => hits(c) >= threshold)
      .orElse {
        val best = cols.map(c => c -> hits(c)).maxByOption(_._2)
        best.collect { case (c, h) if h >= 3 => c }
      }
  }

  /** Canonical coalesce: exactly the canonical columns, resolved ones
    * projected (as string), missing ones filled with defaults
    * (`coalesce`, `etl_merge.py:275-283`).
    */
  def coalesceToCanonical(df: DataFrame, mapping: Map[String, Option[String]],
      wanted: Seq[String]): DataFrame = {
    val defaults = CanonFields.toMap
    df.select(wanted.map { canon =>
      mapping.getOrElse(canon, None) match {
        case Some(src) => col(s"`$src`").cast("string").as(canon)
        case None => defaults.getOrElse(canon, None) match {
          case Some(d) => lit(d).as(canon)
          case None => lit(null).cast("string").as(canon)
        }
      }
    }: _*)
  }

  /** Column-level url-likeness filter (C1). */
  def looksUrlLike(c: Column): Column = UrlOps.looksUrlLike(c)
}
