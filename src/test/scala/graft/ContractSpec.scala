package graft

import java.io.File

import graft.queries._

/** Driver-contract invariants: the query map must not silently lose
  * entries (Map ++ overrides on key collision) and every oracle key must
  * name a real query.
  *
  * Round-12 hardening: this spec iterates `SparkEntry.groups` — the SAME
  * list the production `queries`/`oracleSqlFor` maps are built from — so a
  * group registered for the driver is covered here by construction (the
  * round-11 red suite was a hand-maintained copy of that list going
  * stale). A classpath scan additionally proves no `QueryGroup` module
  * exists outside the registry at all.
  */
class ContractSpec extends SparkSpecBase {

  private def groups: Seq[(String, QueryGroup)] = SparkEntry.groups

  test("no query-name collisions across groups (Map ++ would drop silently)") {
    val all = groups.flatMap(_._2.queries.keySet)
    assert(all.size == all.distinct.size,
      s"duplicate names: ${all.diff(all.distinct)}")
    assert(SparkEntry.queries.size == all.size)
  }

  test("every QueryGroup module on the classpath is registered in SparkEntry.groups") {
    // Scan the compiled-classes directory for graft.queries module classes
    // and assert each QueryGroup instance appears in the registry BY
    // REFERENCE. A new group file that compiles but was never added to
    // SparkEntry.groups fails here — the invariant cannot silently narrow.
    val pkgDir = new File(
      classOf[QueryGroup].getProtectionDomain.getCodeSource.getLocation.toURI)
    val queriesDir = new File(pkgDir, "graft/queries")
    assert(queriesDir.isDirectory, s"expected compiled package dir at $queriesDir")
    val moduleNames = queriesDir.listFiles()
      .map(_.getName)
      .filter(n => n.endsWith("$.class") && !n.contains("$$"))
      .map(n => "graft.queries." + n.stripSuffix(".class"))
      .toSeq
    assert(moduleNames.nonEmpty)
    val onClasspath = moduleNames.flatMap { cn =>
      val cls = Class.forName(cn)
      val inst = cls.getField("MODULE$").get(null)
      inst match {
        case qg: QueryGroup => Some(qg)
        case _ => None
      }
    }
    assert(onClasspath.size >= 82, s"classpath scan degraded: ${onClasspath.size}")
    val registered = groups.map(_._2).toSet
    val unregistered = onClasspath.filterNot(registered.contains)
    assert(unregistered.isEmpty,
      s"QueryGroup modules missing from SparkEntry.groups: " +
        unregistered.map(_.getClass.getName).mkString(", "))
    // and the registry holds no duplicates / phantom entries
    assert(registered.size == groups.size, "duplicate group registration")
    assert(groups.map(_._1).distinct.size == groups.size, "duplicate group name")
  }

  test("every oracle key names a registered query; q38's oracle appears once trained") {
    val sf = "/root/testdata/sf0.001"
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSqlFor(sf).keySet
    assert(os.subsetOf(qs), s"orphan oracles: ${os.diff(qs)}")
    // a model-backed mirror (Oracle.Model) embeds the trained model's
    // literals, so its entry exists only after a query has trained the
    // dir's model (Verify's order guarantees that in the driver gate).
    // Everything else always carries its DuckDB oracle, the sketch tier
    // included (certified exact-plus-boolean rows).
    val modelBacked = groups.flatMap(_._2.entries).collect { case Query(n, _, _: Oracle.Model) => n }.toSet
    assert(modelBacked.nonEmpty)
    assert(qs.diff(os).subsetOf(modelBacked),
      s"unexpected rows-only queries: ${qs.diff(os)}")
    ExtensionQueries2.q38_ann_ivf(spark, sf).count()
    ExtensionQueries6.q93_ann_ivfpq(spark, sf).count()
    ExtensionQueries7.q100_pca_project(spark, sf).count()
    ExtensionQueries10.q112_bpe_tokens(spark, sf).count()
    // round-trips the persisted models, so the q285-q287 mirrors resolve
    ExtensionQueries64.q285_ivfpq_persisted(spark, sf).count()
    // trains + round-trips the generation-1 models, so the r16 drift
    // mirrors (two-generation literals) resolve
    ExtensionQueries132.q490_bpe_generation_drift(spark, sf).count()
    ExtensionQueries132.q491_ivf_rebuild_churn(spark, sf).count()
    ExtensionQueries133.q492_pq_rebuild_quality(spark, sf).count()
    assert(SparkEntry.oracleSqlFor(sf).keySet == qs,
      "generated oracles missing after training (Verify would dump an incomplete map)")
  }

  test("entry (driver smoke) returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
