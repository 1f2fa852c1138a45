package graft

/** Candidate-growth audit for the PPJoin family (round-11 verdict task
  * #4): `runMain graft.SetSimAudit [sfDir ...]` counts every
  * candidate-generation stage of q109's prefix-Jaccard join at each dir
  * (default sf0.01 and sf0.1), so the query's scaling exponent is
  * attributable to a concrete stage — prefix posting-list collisions vs
  * positional-filter survivors vs verified output — rather than inferred
  * from wall clock. The q116 root-cause method, mechanized.
  */
object SetSimAudit {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val keys = Seq("sets", "elements", "prefix_rows", "match_pairs", "candidates")
    val rows = dirs.map { dir =>
      val counts = graft.ext.SetSimJoin.candidateAudit(
        graft.queries.ExtensionQueries9.q109Shingles(spark, dir), "doc_id", "sh",
        graft.queries.ExtensionQueries9.q109Threshold)
      val out = graft.queries.ExtensionQueries9
        .q109_prefix_jaccard(spark, dir).count()
      println(s"$dir: ${keys.map(k => s"$k=${counts(k)}").mkString(" ")} output=$out")
      dir -> (counts, out)
    }
    // pairwise growth factors between consecutive dirs
    rows.sliding(2).foreach {
      case Seq((d1, (c1, o1)), (d2, (c2, o2))) =>
        val fs = keys.map(k => f"$k=${c2(k).toDouble / c1(k)}%.2f")
        println(s"growth $d1 -> $d2: ${fs.mkString(" ")} " +
          f"output=${o2.toDouble / math.max(o1, 1)}%.2f")
      case _ =>
    }
    spark.stop()
  }
}
