package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import graft.queries._

/** The registry derived from the groups' [[Query]] entries: one entry per
  * name, and a model-backed mirror never resolved from another dir's model.
  */
class QueryRegistrySpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private val modelBacked = Set(
    "q38_ann_ivf", "q70_semdedup", "q93_ann_ivfpq", "q100_pca_project",
    "q112_bpe_tokens", "q54_token_packing", "q113_ann_filtered",
    "q285_ivfpq_persisted", "q286_bpe_persisted", "q287_pca_persisted",
    "q290_ivf_utilization", "q490_bpe_generation_drift", "q491_ivf_rebuild_churn",
    "q492_pq_rebuild_quality")

  private val plan: Query.Plan = (s, _) => s.emptyDataFrame

  test("the model-backed mirrors are exactly the Oracle.Model entries") {
    val entries = SparkEntry.groups.flatMap(_._2.entries)
    assert(entries.collect { case Query(n, _, _: Oracle.Model) => n }.toSet == modelBacked)
    assert(entries.map(_.name).toSet == SparkEntry.queries.keySet)
  }

  test("a dir no query has read gets none of the model-backed mirrors") {
    // trains and round-trips every model the 15 mirrors embed, at sf0.001
    SparkEntry.queries("q285_ivfpq_persisted")(spark, sf).count()
    SparkEntry.queries("q490_bpe_generation_drift")(spark, sf).count()
    val fresh = Files.createTempDirectory("graft_fresh_dir").toString
    val leaked = SparkEntry.oracleSqlFor(fresh).keySet.intersect(modelBacked)
    assert(leaked.isEmpty, s"mirrors from another dir's model: $leaked")
    assert(SparkEntry.oracleSqlFor(fresh).keySet == SparkEntry.queries.keySet -- modelBacked)
    val trained = SparkEntry.oracleSqlFor(sf).keySet
    assert(Set("q285_ivfpq_persisted", "q286_bpe_persisted", "q287_pca_persisted",
      "q290_ivf_utilization", "q490_bpe_generation_drift").subsetOf(trained))
  }

  test("a name listed twice in one group throws when its maps are derived") {
    val twice = new QueryGroup {
      val entries: Seq[Query] = Seq(
        Query("qa", plan, "SELECT 1"), Query("qb", plan, "SELECT 2"), Query("qa", plan, "SELECT 3"))
    }
    val e = intercept[IllegalArgumentException](twice.queries)
    assert(e.getMessage.contains("qa") && !e.getMessage.contains("qb"))
  }

  test("a model-backed mirror comes from its own dir's model") {
    val cache = new ConcurrentHashMap[String, String]()
    val oracle = Oracle.Model(d => Option(cache.get(d)).map(m => s"SELECT $m"))
    assert(oracle.sqlFor("a").isEmpty)
    cache.put("a", "1")
    assert(oracle.sqlFor("a").contains("SELECT 1"))
    assert(oracle.sqlFor("b").isEmpty)
    cache.put("b", "2")
    assert(oracle.sqlFor("a").contains("SELECT 1") && oracle.sqlFor("b").contains("SELECT 2"))
    assert(Oracle.Sql("SELECT 0").sqlFor("b").contains("SELECT 0"))
  }
}
