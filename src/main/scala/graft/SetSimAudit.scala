package graft

/** Candidate-growth audit for the PPJoin family: `runMain graft.SetSimAudit
  * [sfDir ...]` counts every candidate-generation stage of q109's
  * prefix-Jaccard join at each dir (default sf0.01 and sf0.1), so the
  * query's scaling exponent is attributable to a concrete stage (prefix
  * posting-list collisions vs positional-filter survivors vs verified
  * output) rather than inferred from wall clock.
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
      dir -> (counts + ("output" -> out))
    }
    // growth factors between consecutive dirs
    rows.zip(rows.drop(1)).foreach { case ((d1, lo), (d2, hi)) =>
      val counters = (keys :+ "output").map(k => (k, lo(k).toDouble, hi(k).toDouble))
      println(s"growth $d1 -> $d2: ${GraftSession.growth(counters)}")
    }
    spark.stop()
  }
}
