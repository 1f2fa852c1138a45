package graft

/** Column-lineage CLI (`runMain graft.LineageAudit <query ...>
  * [--dir=sfDir] [--control]`): prints, per query, each output column
  * and the (table, column) leaves it derives from — the plan-derived
  * answer to "what does this result actually read". `--control`
  * additionally prints the plan's control sources (columns read by
  * filters/joins/sorts/grouping — the PII-scoping set; see
  * [[graft.plans.Lineage]]). Pairs with ShuffleAudit (physical cost)
  * and PlanGateAudit (plan shape) as the third introspection surface.
  */
object LineageAudit {
  def main(args: Array[String]): Unit = {
    val qs = args.filterNot(_.startsWith("--")).toSeq
    require(qs.nonEmpty, "usage: LineageAudit <query ...> [--dir=sfDir]")
    val dir = args.find(_.startsWith("--dir="))
      .map(_.stripPrefix("--dir=")).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()
    val control = args.contains("--control")
    for (q <- qs) {
      println(s"== $q")
      val df = SparkEntry.queries(q)(spark, dir)
      println(graft.plans.Lineage.render(df))
      if (control) {
        val c = graft.plans.Lineage.controlSources(df).toSeq.sorted
          .map { case (t, cl) => s"$t.$cl" }.mkString(", ")
        println(s"control sources        <- ${if (c.isEmpty) "(none)" else c}")
      }
      println()
    }
    spark.stop()
  }
}
