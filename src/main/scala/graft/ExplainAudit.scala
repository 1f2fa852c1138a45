package graft

/** Plan auditor: prints the formatted physical plan for selected queries so
  * scan pruning (ReadSchema/PushedFilters), join strategies (broadcast vs
  * sort-merge), and WholeStageCodegen spans can be inspected. Usage:
  * runMain graft.ExplainAudit [queryName ...] (default: a representative set).
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q01_pricing_summary", "q06_spine_join3", "q07_rank_topk",
        "q26_jaccard_pairs", "q30_cosine_topk", "q48_decontaminate",
        "q50_vocab", "q54_token_packing", "q58_mixture_sample",
        "q59_tfidf_topk", "q61_quantile_bins", "q74_pagerank",
        "q83_heavy_hitters", "q84_bottomk_sample", "q86_range_join",
        "q88_table_checksum", "q112_bpe_tokens", "q113_ann_filtered",
        "q115_lsh_admission")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
