package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded dirty Screaming Frog / GSC / GA4 exports for `visibility_merge`.
  *
  * Only dirt the pipeline already handles is planted: header synonyms,
  * `12.5%` CTR strings, utm/query parameters plus host-case, trailing-slash
  * and fragment variants that normalize to one key, duplicate crawl rows,
  * non-URL GSC rows, GA4 `(not set)`/`(other)` rows and empty URLs. The
  * share of each kind is fixed; the seed only decides which rows get which
  * dirt and which header synonyms each file uses, so every seed gives work
  * of the same shape. The generator returns the exact counts it planted,
  * which the output checks compare against.
  */
object DirtyExports {

  final case class Planted(
      frogRows: Long, frogEmpty: Long, spineKeys: Long, spineDupRows: Long,
      gscRows: Long, gscNonUrl: Long, gscEmpty: Long,
      ga4Rows: Long, ga4Junk: Long, ga4Empty: Long,
      joinMatchGsc: Long, joinMatchGa4: Long, totalClicks: Long) {
    def gscKept: Long = gscRows - gscNonUrl - gscEmpty
    def ga4Kept: Long = ga4Rows - ga4Junk - ga4Empty
    def rowsDropped: Long = frogEmpty + gscNonUrl + gscEmpty + ga4Junk + ga4Empty
  }

  final case class Files3(frog: Path, gsc: Path, ga4: Path)

  val Site = "https://www.acme-store.com"
  private val Sections = Seq("products", "blogs", "collections")

  // Header synonyms per column; the seed picks one per column.
  private val FrogHeaders = Seq(
    Seq("Address", "URL", "Page URL"), Seq("Content"),
    Seq("Status Code", "Status", "HTTP Status"), Seq("Title 1", "Page Title"),
    Seq("Meta Description 1", "Description"), Seq("Crawl Depth", "Depth"),
    Seq("Inlinks", "Inbound Links"), Seq("Word Count", "Words"),
    Seq("Structured Data", "Schema Types"), Seq("Outlinks"))
  private val GscHeaders = Seq(
    // GSC's own "Top pages" on every seed: it resolves through URL value
    // sniffing, an extra job that must not vary with the seed
    Seq("Top pages"), Seq("Clicks", "Total Clicks"),
    Seq("Impressions", "Total Impressions"), Seq("CTR", "GSC CTR"),
    // not "Avg. Position": a dot in a header fails analysis in the loaders
    Seq("Position", "Avg Position", "GSC Position"))
  private val Ga4Headers = Seq(
    Seq("Page path + query string", "Landing page + query string",
      "Page path and screen class"),
    Seq("Users", "Total users", "Active users"), Seq("Sessions"), Seq("Engaged sessions"),
    Seq("Average engagement time", "Average session duration"), Seq("Conversions"))

  private def pathOf(k: Int): String = s"/${Sections(k % 3)}/item-$k"
  private def queryOf(k: Int): String = if (k % 3 == 0) s"sku=${k % 97}" else ""

  /** A raw spelling of key `k` that normalizes to `Site + pathOf(k)`, plus
    * `?` + `queryOf(k)` when that is non-empty. Path-only spellings (GA4)
    * rely on the configured site base. */
  private def variant(k: Int, r: SplittableRandom, pathOnly: Boolean): String = {
    val q = queryOf(k)
    val host = if (pathOnly) "" else r.nextInt(4) match {
      case 0 => "https://WWW.ACME-STORE.COM"
      case 1 => "HTTPS://www.Acme-Store.com"
      case _ => Site
    }
    val path = pathOf(k) + (if (r.nextInt(4) == 0) "/" else "")
    val query = r.nextInt(4) match {
      case 0 => if (q.isEmpty) "?utm_source=feed" else s"?utm_source=feed&$q"
      case 1 => if (q.isEmpty) "?utm_medium=email&utm_campaign=fall" else s"?$q&utm_medium=email"
      case _ => if (q.isEmpty) "" else s"?$q"
    }
    val fragment = if (!pathOnly && r.nextInt(8) == 0) "#reviews" else ""
    host + path + query + fragment
  }

  private def shuffled[T](xs: Array[T], r: SplittableRandom): Array[T] = {
    var i = xs.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
      i -= 1
    }
    xs
  }

  private def writeCsv(path: Path, header: Seq[String], rows: Iterator[Seq[String]]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path),
      StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(header.mkString(",")); w.write('\n')
      rows.foreach { r => w.write(r.mkString(",")); w.write('\n') }
    } finally w.close()
  }

  /** Writes the three exports (about `rows` rows each) under `dir`. */
  def write(dir: Path, seed: Long, rows: Int): (Files3, Planted) = {
    Files.createDirectories(dir)
    val r = new SplittableRandom(seed)
    // seeds 0..5 together use every synonym of every column
    def pick(cols: Seq[Seq[String]]): Seq[String] =
      cols.zipWithIndex.map { case (c, j) => c(Math.floorMod(seed + j, c.size.toLong).toInt) }

    // Screaming Frog crawl: every spine key once, 10% duplicate crawl rows
    // (another spelling of an already-crawled key), 1% empty URLs.
    val frogEmpty = rows / 100
    val dups = rows / 10
    val keys = rows - dups - frogEmpty
    val frogKeys = shuffled(Array.tabulate(keys + dups + frogEmpty) { i =>
      if (i < keys) i else if (i < keys + dups) r.nextInt(keys) else -1
    }, r)
    val frog = dir.resolve("screaming_frog_export.csv")
    writeCsv(frog, pick(FrogHeaders), frogKeys.iterator.map { k =>
      val url = if (k < 0) "" else variant(k, r, pathOnly = false)
      val id = math.max(k, 0)
      Seq(url, "text/html", if (id % 50 == 0) "301" else "200", s"Item $id",
        if (id % 7 == 0) "" else s"About item $id", (1 + id % 6).toString,
        (id % 40).toString, (200 + id % 2000).toString,
        Sections(id % 3) match {
          case "products" => "Product"
          case "blogs" => "BlogPosting"
          case _ => ""
        }, (id % 9).toString)
    })

    // GSC: 2% non-URL rows, 1% empty, the rest spread over spine keys (90%)
    // and keys the crawl never saw (10%).
    val gscNonUrl = rows / 50
    val gscEmpty = rows / 100
    val gscMatched = new java.util.BitSet(keys)
    var totalClicks = 0L
    val gscKinds = shuffled(Array.tabulate(rows) { i =>
      if (i < gscNonUrl) 1 else if (i < gscNonUrl + gscEmpty) 2 else 0
    }, r)
    val nonUrl = Seq("Total", "acme-store.com/products/item-1", "(other)", "site:acme-store.com")
    val gsc = dir.resolve("gsc_export.csv")
    writeCsv(gsc, pick(GscHeaders), gscKinds.iterator.map { kind =>
      val clicks = r.nextInt(500)
      val impressions = clicks + 1 + r.nextInt(20000)
      val ctr = f"${clicks * 100.0 / impressions}%.2f%%"
      val position = f"${1.0 + r.nextInt(300) / 10.0}%.1f"
      val url = kind match {
        case 1 => nonUrl(r.nextInt(nonUrl.size))
        case 2 => ""
        case _ =>
          val k = if (r.nextInt(10) < 9) r.nextInt(keys) else keys + r.nextInt(keys)
          if (k < keys) { gscMatched.set(k); totalClicks += clicks }
          variant(k, r, pathOnly = false)
      }
      Seq(url, clicks.toString, impressions.toString, ctr, position)
    })

    // GA4: path-only URLs, 2% junk markers, 1% empty, spine keys 80%.
    val ga4Junk = rows / 50
    val ga4Empty = rows / 100
    val ga4Matched = new java.util.BitSet(keys)
    val ga4Kinds = shuffled(Array.tabulate(rows) { i =>
      if (i < ga4Junk) 1 else if (i < ga4Junk + ga4Empty) 2 else 0
    }, r)
    val ga4 = dir.resolve("ga4_export.csv")
    writeCsv(ga4, pick(Ga4Headers), ga4Kinds.iterator.map { kind =>
      val sessions = 1 + r.nextInt(400)
      val url = kind match {
        case 1 => if (r.nextBoolean()) "(not set)" else "(other)"
        case 2 => ""
        case _ =>
          val k = if (r.nextInt(10) < 8) r.nextInt(keys) else keys + r.nextInt(keys)
          if (k < keys) ga4Matched.set(k)
          variant(k, r, pathOnly = true)
      }
      Seq(url, (1 + r.nextInt(sessions)).toString, sessions.toString,
        r.nextInt(sessions + 1).toString, f"${r.nextInt(9000) / 10.0}%.1f",
        r.nextInt(7).toString)
    })

    (Files3(frog, gsc, ga4), Planted(
      frogRows = frogKeys.length, frogEmpty = frogEmpty, spineKeys = keys, spineDupRows = dups,
      gscRows = rows, gscNonUrl = gscNonUrl, gscEmpty = gscEmpty,
      ga4Rows = rows, ga4Junk = ga4Junk, ga4Empty = ga4Empty,
      joinMatchGsc = gscMatched.cardinality, joinMatchGa4 = ga4Matched.cardinality,
      totalClicks = totalClicks))
  }
}
