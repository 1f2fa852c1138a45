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
    val vs = graft.plans.PlanGate.auditQueries(spark, dir, names)
    vs.foreach(println)
    println(s"\naudited ${names.size} queries, ${vs.size} violations")
    spark.stop()
    if (vs.nonEmpty) sys.exit(1)
  }
}
