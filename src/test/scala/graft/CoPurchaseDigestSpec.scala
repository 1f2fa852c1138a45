package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.json4s._

/** Result digests of every query built on a shared building block stay
  * pinned: each query's canonical digest and row count at sf0.01 must
  * equal `tools/digests_sf0.01.json`, the sidecar the DuckDB oracle run
  * was adjudicated against. `queries` are built on [[graft.ops.CoPurchase]]
  * or [[graft.ops.PageRank]]; `blockQueries` take a block from
  * [[graft.ops.Sessions]] or `graft.queries.QueryBlocks` in their plan, or
  * the dot-product fold in their mirror. A refactor of a shared block that
  * changes one output row fails here, not only in a manual Verify run.
  */
class CoPurchaseDigestSpec extends SparkSpecBase {

  private val queries = Seq(
    "q74_pagerank", "q80_copurchase", "q106_triangles", "q107_kcore",
    "q118_link_predict", "q120_label_prop", "q128_cc_stars", "q150_bfs_hops",
    "q164_weighted_pagerank", "q170_degree_histogram", "q188_also_bought",
    "q276_degree_assortativity", "q316_recursive_bfs", "q361_modularity",
    "q405_association_rules", "q427_rich_club", "q441_degree_assortativity",
    "q442_clustering_coefficient")

  private val blockQueries = Seq(
    "q21_sessionize", "q30_cosine_topk", "q31_ann_lsh", "q37_embed_dedup", "q38_ann_ivf",
    "q47_ann_recall", "q70_semdedup", "q86_range_join", "q102_interval_overlap",
    "q109_prefix_jaccard", "q114_filtered_recall", "q116_overlap_join", "q117_snm_dedup",
    "q125_overlap_contain", "q127_rrf_fusion", "q159_knn_accuracy",
    "q186_session_paths", "q189_session_covisitation", "q192_dwell_time",
    "q210_peak_concurrency", "q217_page_conversion_lift", "q222_embedding_norm_audit",
    "q223_dead_dimensions", "q228_label_separation", "q229_knn_confusion",
    "q250_path_exemplars", "q265_first_session_effect", "q275_session_type_lift",
    "q277_friction_impact", "q320_fleiss_kappa", "q355_ndcg_mrr",
    "q367_krippendorff_alpha", "q407_kruskal_wallis", "q411_percent_rank_ppm",
    "q412_brown_forsythe", "q415_tukey_fences", "q416_winsorized_mean",
    "q420_gini_mean_difference", "q421_robust_shape", "q422_cliffs_delta",
    "q428_wasserstein", "q429_l_moments", "q433_two_sample_runs", "q435_decision_stump",
    "q437_mood_median_test", "q446_calibration_ece", "q448_youden_threshold",
    "q452_records_test", "q453_turning_points", "q454_acf_table", "q455_fisher_exact",
    "q460_pettitt_changepoint", "q461_average_precision", "q463_weekday_anomalies",
    "q473_matthews_mcc", "q476_brier_decomposition", "q480_median_exact_ci",
    "q481_wilks_tolerance", "q484_durbin_watson", "q485_seasonal_mann_kendall",
    "q487_permutation_test", "q497_overlap_hybrid", "q498_overlap_hybrid_cert")

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

  (queries ++ blockQueries).foreach { q =>
    test(s"$q matches its pinned sf0.01 digest") {
      val got = Verify.digest(SparkEntry.queries(q)(spark, sf))
      assert(got == pinned(q), s"$q digest/rows drifted from tools/digests_sf0.01.json")
    }
  }
}
