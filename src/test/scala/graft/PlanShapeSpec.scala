package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression guard: the §2-critical physical properties the
  * PLANS.md audits describe — filter pushdown, column pruning, broadcast
  * joins on pre-aggregated sides, TakeOrderedAndProject instead of global
  * windows, codegen'd kernel projections — pinned as assertions, so a
  * refactor that silently degrades a plan (a lost pushdown, a join that
  * flips to cartesian, a window that loses its partition bound) fails CI
  * instead of surfacing as an unexplained bench regression two rounds
  * later. Asserted on the pre-AQE plan (AQE re-plans sizes at runtime;
  * the static shape is what the engine controls).
  */
class PlanShapeSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("q01: date predicate reaches the parquet scan; columns pruned") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters"), "no pushdown section in scan")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"),
      "l_shipdate predicate not pushed to the scan")
    // the 16-column lineitem scan must read a subset, not SELECT *
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse(fail("no ReadSchema"))
    assert(read.split(",").length <= 8, s"scan reads too many columns: $read")
  }

  test("q06: both spine joins broadcast the small pre-aggregated sides") {
    val p = plan("q06_spine_join3")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "spine joins are not broadcast-hash")
    assert(!p.contains("CartesianProduct"))
  }

  test("q07/q11: ranking compiles to TakeOrderedAndProject, never an unbounded global window") {
    Seq("q07_rank_topk", "q11_anomaly_triage").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q lost the sort+limit shape")
      // any Window must carry a partition spec (Ranks.bounded's constant
      // key counts; what must never appear is an empty partition clause)
      assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
        s"$q has a partition-less window")
    }
  }

  test("q12: url_normalize runs inside a WholeStageCodegen span") {
    // AQE defers codegen-stage annotation to runtime — disable it so the
    // static executedPlan shows the codegen spans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q12_url_normalize")(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      // in simple-string notation a leading `*(n)` marks a node inside
      // whole-stage-codegen stage n — the Project carrying the kernel
      // calls must have one (a CodegenFallback expression would drop its
      // stage out of codegen, losing the round-3 100x win)
      val projLine = p.linesIterator
        .find(l => l.contains("graft_url_normalize")).getOrElse(
          fail("url_normalize expression missing from plan"))
      assert(projLine.trim.stripPrefix("+- ").startsWith("*("),
        s"url_normalize Project is outside codegen: $projLine")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q30: norms are projected below the pair join, not recomputed per pair") {
    val p = plan("q30_cosine_topk")
    val joinIdx = p.indexOf("BroadcastNestedLoopJoin")
    assert(joinIdx >= 0, "brute-force baseline should be a nested-loop join")
    // SQRT appears only in Project nodes (inputs), never in the join condition
    val joinLine = p.linesIterator.find(_.contains("BroadcastNestedLoopJoin")).get
    assert(!joinLine.toLowerCase.contains("sqrt"), "norms computed in the join")
  }

  test("q48: the eval-set side broadcasts; the corpus never shuffles wide") {
    val p = plan("q48_decontaminate")
    assert(p.contains("BroadcastExchange"), "small side not broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q74/PageRank.step: no |V|-row broadcast; co-partitioned shuffled-hash loop") {
    // the round-4 verdict's 100 TB killer was a per-iteration
    // broadcast(mass): pin the replacement shape — the iteration must plan
    // with NO BroadcastExchange at all (mass and contrib are |V|-row frames
    // that scale with the graph), shuffled-hash joins (a sort-merge plan
    // would re-sort the edge partitions every iteration), and exactly one
    // exchange (the contribution partial-agg on dst). That last shape needs
    // adaptive execution off, as here: the checkpointed edge and node
    // inputs then carry their hash partitioning and both joins
    // co-partition. With it on, as in every session, a local checkpoint
    // records UnknownPartitioning(0) and each iteration shuffles the edges.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, count, lit}
      val raw = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
      val deg = raw.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        .localCheckpoint(true)
      val edges = raw.join(deg, Seq("src")).repartition(col("src"))
        .localCheckpoint(true)
      val nodes = Seq(1L, 2L, 3L, 4L).toDF("id").repartition(col("id"))
        .localCheckpoint(true)
      val mass = nodes.select(col("id"), lit(1000000L).as("mass"))
      val p = graft.ops.PageRank.step(edges, nodes, mass, 150000L)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("BroadcastExchange"),
        "PageRank iteration broadcasts a frame that scales with |V|")
      assert("ShuffledHashJoin".r.findAllIn(p).length >= 2,
        s"iteration joins are not shuffled-hash:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
        s"iteration re-shuffles a loop-invariant input:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q70: assignment is expression-only; the pair join is an equi-join on the list id") {
    val p = plan("q70_semdedup")
    assert(!p.contains("CartesianProduct"),
      "semantic dedup must never pair across clusters")
    assert(p.contains("graft_l2sq"), "centroid assignment kernel missing")
  }

  test("q84: rank<=k filter compiles to WindowGroupLimit (map-side per-group pruning)") {
    val p = plan("q84_bottomk_sample")
    assert(p.contains("WindowGroupLimit"),
      "per-group sample must pre-prune to k rows per group before the shuffle — " +
        "without WindowGroupLimit the window sorts the full table")
  }

  test("q86: range join compiles to a hash equi-join on the bucket, never BNLJ") {
    val p = plan("q86_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "a bare range predicate degrades to BNLJ — the bucketed rewrite must equi-join")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), "bucket equi-join missing")
  }

  test("q91: dense ids number within range partitions — never a partition-less global window") {
    val p = plan("q91_dense_ids")
    assert(p.contains("windowspecdefinition(__pid"),
      "the row_number window must be partitioned by the range-partition id")
    // a global `row_number() OVER (ORDER BY ...)` would show an empty
    // partition spec: windowspecdefinition(<order> ...) with no __pid
    assert(!p.matches("(?s).*windowspecdefinition\\(shuffle_key.*"),
      "found a window ordered globally without the partition key")
  }

  test("q95: skyline's running max is __pid-partitioned — never a global window") {
    val p = plan("q95_pareto_front")
    assert(p.contains("windowspecdefinition(__pid"),
      "skyline must run its running max within range partitions")
  }

  test("q98: the streaming-composable interval join is a hash equi-join on bucket keys") {
    val p = plan("q98_stream_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the bucketed interval join must never degrade to BNLJ/cartesian")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), "bucket equi-join missing")
  }

  test("q102: the two-sided interval-overlap join stays a bucket equi-join") {
    val p = plan("q102_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "overlap predicates must ride the canonical-bucket equi-join")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), "bucket equi-join missing")
  }

  test("q99: incremental MinHash admission joins on band keys, never all-pairs") {
    val p = plan("q99_incremental_minhash")
    assert(!p.contains("CartesianProduct"),
      "candidate generation must go through the band-key equi-join")
    // the probe/index join keys on (band, bk); the sig-verify joins key on ids
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), "band-key equi-join missing")
  }

  test("q100: PCA projection stays scan-shaped — no joins beyond the 1-row stats fan-out") {
    val p = plan("q100_pca_project")
    // exactly one scalar fan-out: the explained-variance stats row
    assert(!p.contains("CartesianProduct"), "unexpected cartesian in the projection")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "projection must not shuffle a join — components are plan literals")
    assert(!p.matches("(?s).*windowspecdefinition\\((?!.*__pid).*"),
      "no window should appear in the projection path")
  }

  test("q83: heavy-hitter aggregation is partial (summaries merge, keys never shuffle raw)") {
    val p = plan("q83_heavy_hitters")
    // typed-aggregator partial mode: an ObjectHashAggregate/SortAggregate pair
    // around the exchange — the per-partition MG summary IS the map-side output
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "MG aggregation should plan as a partial object aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  /** Distinct plan-node count in FORMATTED explain output (each node
    * prints twice — tree and details — always as "(id) Name").
    */
  private def nodeCount(p: String, name: String): Int =
    ("\\((\\d+)\\) " + name).r.findAllMatchIn(p).map(_.group(1)).toSet.size

  test("q103: only the gram self-join explodes — reassembly adds no corpus re-explode") {
    val p = plan("q103_span_dedup")
    // two Generate nodes = the gram table on both sides of the
    // occurrence ⋈ first-owner join; a third would mean reassembly went
    // back to exploding every token position
    assert(nodeCount(p, "Generate") <= 2,
      "span-dedup reassembly must filter tokens in place, not re-explode the corpus")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q104/q105: sketch probe broadcasts; the only nested loop is the 1-row scalar") {
    val p4 = plan("q104_count_min")
    assert(p4.contains("BroadcastHashJoin"), "the <=256-cell sketch side must broadcast")
    assert(!p4.contains("CartesianProduct") && !p4.contains("BroadcastNestedLoopJoin"))
    val p5 = plan("q105_surprisal")
    assert(nodeCount(p5, "BroadcastNestedLoopJoin") == 1,
      "exactly the 1-row total fan-out may be a nested loop")
    assert(!p5.contains("CartesianProduct"))
  }

  test("q106/q107: graph joins stay equi-joins; k-core's one nested loop is the 1-row flag") {
    val p6 = plan("q106_triangles")
    assert(!p6.contains("CartesianProduct") && !p6.contains("BroadcastNestedLoopJoin"),
      "triangle wedge join must never be a nested loop")
    val p7 = plan("q107_kcore")
    assert(!p7.contains("CartesianProduct"))
    assert(nodeCount(p7, "BroadcastNestedLoopJoin") <= 1,
      "only the 1-row converged-flag fan-out may be a nested loop")
  }

  test("q109: prefix join is an equi-join on the element key; windows are id-partitioned") {
    val p = plan("q109_prefix_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
      "rank/size windows must partition by set id, never globally")
  }

  test("q110: chunk assembly windows partition by document, never globally") {
    val p = plan("q110_cdc_chunks")
    assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q113: the ANN predicate is pushed to the candidate parquet scan, below all distance math") {
    val p = plan("q113_ann_filtered")
    // the filter must reach the scan — disqualified rows never get a list
    // assignment, a norm, or a cosine (pre-filtering, not post-filtering)
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*LessThan\\(label,4\\)[^\\]]*\\].*"),
      "label predicate not pushed to the embeddings scan")
    // and the k-truncation stays map-side per group, as in q38
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      "rank<=k must prune per-group before the final exchange")
  }
}
