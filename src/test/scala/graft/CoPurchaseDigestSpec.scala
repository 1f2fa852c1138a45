package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.json4s._

/** Result digests of every query built on [[graft.ops.CoPurchase]] or
  * [[graft.ops.PageRank]] stay pinned: each query's canonical digest and
  * row count at sf0.01 must equal `tools/digests_sf0.01.json`, the
  * sidecar the DuckDB oracle run was adjudicated against. A refactor of
  * the shared edge builder or the PageRank loop that changes one output
  * row fails here, not only in a manual Verify run.
  */
class CoPurchaseDigestSpec extends SparkSpecBase {

  private val queries = Seq(
    "q74_pagerank", "q80_copurchase", "q106_triangles", "q107_kcore",
    "q118_link_predict", "q120_label_prop", "q128_cc_stars", "q150_bfs_hops",
    "q164_weighted_pagerank", "q170_degree_histogram", "q188_also_bought",
    "q276_degree_assortativity", "q316_recursive_bfs", "q361_modularity",
    "q405_association_rules", "q427_rich_club", "q441_degree_assortativity",
    "q442_clustering_coefficient")

  private val sf = "/root/testdata/sf0.01"

  private lazy val pinned: Map[String, (String, Long)] = {
    val text = new String(Files.readAllBytes(Paths.get("tools/digests_sf0.01.json")),
      StandardCharsets.UTF_8)
    val JObject(fields) = jackson.JsonMethods.parse(text): @unchecked
    fields.collect { case (q, JObject(kv)) =>
      val m = kv.toMap
      val JString(sha) = m("sha256"): @unchecked
      val JInt(rows) = m("rows"): @unchecked
      q -> (sha, rows.toLong)
    }.toMap
  }

  queries.foreach { q =>
    test(s"$q matches its pinned sf0.01 digest") {
      val got = Verify.digest(SparkEntry.queries(q)(spark, sf))
      assert(got == pinned(q), s"$q digest/rows drifted from tools/digests_sf0.01.json")
    }
  }
}
