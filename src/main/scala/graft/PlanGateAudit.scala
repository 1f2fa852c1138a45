package graft

/** CLI runner for [[graft.plans.PlanGate]]: audits every registered query
  * (or the names given as args) at sf0.001 and prints violations plus the
  * object-node inventory. The CI form of the same sweep is
  * `FleetPlanShapeSpec`; this main exists for fast local iteration when a
  * new query trips the gate.
  */
object PlanGateAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    var bad = 0
    names.foreach { n =>
      val vs =
        try graft.plans.PlanGate.audit(n, SparkEntry.queries(n)(spark, dir))
        catch {
          case e: Throwable =>
            Seq(graft.plans.PlanGate.Violation(n, "build-error",
              e.toString.takeWhile(_ != '\n')))
        }
      vs.foreach { v => bad += 1; println(v) }
    }
    println(s"\naudited ${names.size} queries, $bad violations")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
