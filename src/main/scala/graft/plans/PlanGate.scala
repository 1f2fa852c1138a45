package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._

/** Fleet-wide plan-shape gate (round-9 verdict task #1).
  *
  * The q147 bug class — a `BroadcastNestedLoopJoin` whose build side was
  * the CORPUS because Spark picked the build side from sf-dependent size
  * stats, not from what is actually bounded — survived eight rounds and
  * was only caught by a manual `ExplainAudit` read. This gate mechanizes
  * that read across EVERY query in [[graft.SparkEntry.queries]]: one spec
  * ([[graft.FleetPlanShapeSpec]]) fails if any future query reintroduces
  * a scale-killer of the classes below.
  *
  * The audit runs on the OPTIMIZED LOGICAL plan, not the physical plan,
  * deliberately: physical join strategies at sf0.001 are size-driven
  * (everything broadcasts), so the physical plan at test scale says
  * nothing about the 100 TB shape. The logical plan carries exactly the
  * two scale-invariant facts that matter:
  *
  *   - `LogicalPlan.maxRows` — Catalyst's own structural row bound,
  *     defined only when provable from the plan itself (ungrouped
  *     aggregates → 1, limits → n, literal relations → size, and their
  *     compositions). A defined bound is a PLAN CONSTANT, independent of
  *     input cardinality — safe to broadcast or nest at any scale.
  *   - `Join.hint` — an explicit `broadcast()` marks the engine's own
  *     declaration that a side is bounded by construction (e.g. the
  *     brute-force cosine probe set, `ext/Similarity.scala:61`, whose
  *     bound is semantic — a probe predicate — not structural).
  *
  * Violation classes:
  *
  *   1. `nonequi-join-unbounded` — a join with NO equi-key conjunct
  *      (at scale: BNLJ or CartesianProduct; equi-joins hash-partition
  *      and ride to any scale) where the side that must broadcast is
  *      neither `maxRows`-bounded nor hint-declared. This is the q147
  *      class, caught at plan time regardless of what sf0.001 stats say.
  *   2. `global-window` — a `Window` with an empty partition spec over an
  *      input that is not provably bounded: the whole dataset funnels
  *      through one task.
  *   3. `scala-udf` — any `ScalaUDF` expression anywhere (the engine's
  *      custom scalars are codegen Catalyst expressions; a `udf()` in a
  *      hot projection is an interpreted per-row lambda).
  *   4. `object-node` — a typed/lambda operator (`MapPartitions`,
  *      `MapGroups`, …) outside the pinned per-query allowlist. The
  *      engine's deliberate object nodes are the multimodal binary codec
  *      (no Catalyst equivalent for byte-level decode) and the
  *      `mapGroupsWithState` batch twins of streaming queries;
  *      `AppendColumns` (the typed-`Aggregator` grouping-key extractor —
  *      the documented cost of the sketch surface) is allowed globally.
  *      Anything new must be added here WITH a justification.
  */
object PlanGate {

  final case class Violation(query: String, kind: String, detail: String) {
    override def toString = s"[$query] $kind: $detail"
  }

  /** Bounded build side cap: every legitimate bounded side in the engine
    * is a 1-row scalar, a ≤4-row grid, or a ≤10k trained/probe set; a
    * "bound" beyond this is a smell even if structurally constant — a
    * structurally-bounded 1M-row build still means 1M-row nested-loop
    * probes (or a 1M-row single window partition) at every scale.
    * 100k gives the legitimate ≤10k sides a 10× margin while tripping
    * anything that could dominate a task.
    */
  private val BoundCap = 100_000L

  /** Per-query object-node allowlist (beyond the globally allowed
    * `AppendColumns`): query name → justification. Matched by prefix on
    * the node inventory check so one entry covers a query family.
    */
  private[graft] val ObjectNodeAllow: Map[String, String] = Map(
    "q32_media_features" -> ("binary media codec (ext/Multimodal.scala): " +
      "mapPartitions is the only Catalyst-expressible shape for byte-level decode"),
    "q67_frame_sample" -> "binary frame sampler: same codec family as q32",
    "q419_patch_grid" -> ("ViT patch budgeting consumes the q32 codec's " +
      "decode stage (same ext/Multimodal mapPartitions); everything above " +
      "the decode is declarative"),
    "q488_ahash_band_dedup" -> ("perceptual-hash band dedup consumes the " +
      "q32 codec family's aHash stage (ext/Multimodal.aHashBands " +
      "mapPartitions — byte-level pixel fold); the band index, candidate " +
      "join, and Hamming verify above it are declarative"),
    "q489_ahash_band_audit" -> ("band-index health audit over the same " +
      "ext/Multimodal.aHashBands codec stage as q488"),
    "q493_media_token_budget" -> ("media budget rollup consumes the q32 " +
      "codec family's decode + frame-sample stages (ext/Multimodal " +
      "mapPartitions); the per-kind rollup above them is declarative"),
    "q494_ahash_dup_clusters" -> ("cluster stage over q488's verified " +
      "pair frame — same ext/Multimodal.aHashBands codec stage at the " +
      "leaves; StarContract and the rollups above it are declarative"),
    "q495_ahash_dedup_savings" -> ("savings rollup over the q494 cluster " +
      "graph — same aHashBands codec stage at the leaves"),
    "q115_lsh_admission" -> ("streaming/LshAdmit batch twin: keyed " +
      "flatMapGroupsWithState admission state — state bounded by bands × index")
  )

  /** Logical object/lambda operator class names that mark a per-row or
    * per-group interpreted path. `AppendColumns` is NOT listed — typed
    * `Aggregator`s extract their grouping key through it by design.
    */
  private val ObjectNodeNames = Set(
    "MapPartitions", "MapElements", "MapGroups", "FlatMapGroupsWithState",
    "FlatMapGroupsInR", "CoGroup", "TypedFilter", "MapInPandas",
    "FlatMapGroupsInPandas")

  private def equiSplit(l: Expression, r: Expression, j: Join): Boolean = {
    val (lo, ro) = (j.left.outputSet, j.right.outputSet)
    (l.references.nonEmpty && r.references.nonEmpty) && (
      (l.references.subsetOf(lo) && r.references.subsetOf(ro)) ||
      (l.references.subsetOf(ro) && r.references.subsetOf(lo)))
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** A join with at least one TOP-LEVEL equi-key conjunct plans as a
    * hash/merge join on that key at any scale — never BNLJ/cartesian.
    * Conjuncts only: `a =!= b` is `Not(EqualTo(a, b))` and a recursive
    * `exists` would see the nested EqualTo and wave the join through.
    */
  private def hasEquiKey(j: Join): Boolean =
    j.condition.toSeq.flatMap(conjuncts).exists {
      case EqualTo(l, r) => equiSplit(l, r, j)
      case EqualNullSafe(l, r) => equiSplit(l, r, j)
      case _ => false
    }

  private def hinted(h: Option[HintInfo]): Boolean =
    h.flatMap(_.strategy).contains(BROADCAST)

  /** A side is scale-safe to be the nested-loop build iff its row count
    * is a plan constant (maxRows) or the query author declared it bounded
    * with an explicit broadcast hint.
    */
  private def sideOk(p: LogicalPlan, h: Option[HintInfo]): Boolean =
    p.maxRows.exists(_ <= BoundCap) || hinted(h)

  /** Audits the registered queries `names`, each built over `dir`; a
    * query whose plan fails to build is a `build-error` violation.
    */
  def auditQueries(spark: SparkSession, dir: String, names: Seq[String]): Seq[Violation] =
    names.flatMap { n =>
      try audit(n, graft.SparkEntry.queries(n)(spark, dir))
      catch { case e: Throwable =>
        Seq(Violation(n, "build-error", e.toString.linesIterator.next()))
      }
    }

  def audit(name: String, df: DataFrame): Seq[Violation] = {
    val plan = df.queryExecution.optimizedPlan
    val out = Seq.newBuilder[Violation]

    plan.collectWithSubqueries {
      case j: Join if !hasEquiKey(j) =>
        val ok = j.joinType match {
          case Inner | Cross =>
            sideOk(j.left, j.hint.leftHint) || sideOk(j.right, j.hint.rightHint)
          case LeftOuter | LeftSemi | LeftAnti | _: ExistenceJoin =>
            sideOk(j.right, j.hint.rightHint)
          case RightOuter => sideOk(j.left, j.hint.leftHint)
          case FullOuter =>
            sideOk(j.left, j.hint.leftHint) || sideOk(j.right, j.hint.rightHint)
          case _ => false
        }
        if (!ok) out += Violation(name, "nonequi-join-unbounded",
          s"${j.joinType} join, cond=${j.condition}, " +
            s"leftMax=${j.left.maxRows} rightMax=${j.right.maxRows} hint=${j.hint} — " +
            "at scale this is a BNLJ/cartesian with an unbounded build side")

      // a partitionSpec of only foldable expressions (lit(1), "x") is a
      // global window in disguise — every row hashes to one partition
      case w: Window if w.partitionSpec.forall(_.foldable) &&
          !w.child.maxRows.exists(_ <= BoundCap) =>
        out += Violation(name, "global-window",
          s"partition-less (or constant-partitioned) window over unbounded " +
            s"input: ${w.windowExpressions.map(_.sql).take(2)}")

      case r: Repartition if r.numPartitions == 1 &&
          !r.child.maxRows.exists(_ <= BoundCap) =>
        out += Violation(name, "single-partition",
          "repartition/coalesce to ONE partition over unbounded input — " +
            "a single-task funnel")
      case r: RepartitionByExpression if r.optNumPartitions.contains(1) &&
          !r.child.maxRows.exists(_ <= BoundCap) =>
        out += Violation(name, "single-partition",
          "repartitionByExpression(1) over unbounded input — a single-task funnel")

      case n if ObjectNodeNames.contains(n.nodeName) &&
          !ObjectNodeAllow.keys.exists(name.startsWith) =>
        out += Violation(name, "object-node",
          s"${n.nodeName} outside the allowlist — per-row/group lambda in the plan")

      // Recursive CTEs (round-11 verdict task #7): the scale-killers of a
      // UnionLoop are (a) a joining recursive member with NO per-level
      // dedup — every level multiplies paths instead of visiting nodes
      // (path enumeration: rows grow as walks, not vertices), and (b) a
      // recursive member with NO guard predicate on the loop's own
      // columns — each level re-emits at least as many rows forever, and
      // the only stop is the engine's cteRecursionLevelLimit error. Both
      // checks are STRUCTURAL proxies (presence, not sufficiency — a
      // non-shrinking filter still passes), same contract as the rest of
      // the gate: the class is pinned by fixtures, the engine's real
      // queries document their actual bounds in scaladoc. Joins INSIDE
      // the loop body are additionally swept by the non-equi rule above
      // (collectWithSubqueries descends into anchor and recursion).
      case ul: UnionLoop =>
        // Walk the path from the recursion root down to the UnionLoopRef.
        // If a Join sits on that path (the frontier fans out), a dedup
        // must sit ABOVE the topmost such join — a DISTINCT inlined in
        // the OTHER join branch (the edge list's own dedup) or below the
        // join does not cap the level: the fan-out itself must be
        // deduplicated before it becomes the next frontier.
        def isDedup(p: LogicalPlan): Boolean = p match {
          case _: Aggregate | _: Deduplicate | _: Distinct => true
          case _ => false
        }
        // Some(ok): subtree contains the loop ref; ok = no join on the
        // path, or dedup seen above the topmost one
        def levelCapped(p: LogicalPlan, dedupAbove: Boolean): Option[Boolean] =
          p match {
            case _: UnionLoopRef => Some(true)
            case j: Join if j.exists(_.isInstanceOf[UnionLoopRef]) =>
              Some(dedupAbove)
            case _ =>
              val d = dedupAbove || isDedup(p)
              p.children.flatMap(c => levelCapped(c, d)).headOption
          }
        if (levelCapped(ul.recursion, dedupAbove = false).contains(false))
          out += Violation(name, "recursive-join-no-dedup",
            "recursive member joins the loop frontier with no dedup above " +
              "the join — path enumeration: level sizes grow with walk " +
              "counts, not vertex counts; add DISTINCT (or an aggregate) " +
              "per level")
        val loopRefAttrs = ul.recursion.collect {
          case r: UnionLoopRef => r.output.map(_.exprId)
        }.flatten.toSet
        val guarded = ul.maxDepth.isDefined || ul.limit.isDefined ||
          ul.recursion.exists {
            case f: Filter =>
              f.condition.references.exists(a => loopRefAttrs.contains(a.exprId))
            case _ => false
          }
        if (!guarded)
          out += Violation(name, "recursive-no-guard",
            "recursive member has no filter on the loop's own columns (and " +
              "no MAX RECURSION LEVEL) — nothing shrinks the frontier; the " +
              "only stop is the cteRecursionLevelLimit error at depth 100")
    }

    val udfs = plan.collectWithSubqueries {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])) => p.nodeName
    }
    if (udfs.nonEmpty)
      out += Violation(name, "scala-udf", s"ScalaUDF in nodes: ${udfs.distinct}")

    out.result()
  }

  /** Streaming allowlist (the [[ObjectNodeAllow]] discipline for state):
    * pipeline name → written justification for keyed state that expires
    * via structure rather than watermark/timeout. Everything here holds
    * state bounded by KEY CARDINALITY or a FIXED per-key size, not by
    * history length — the claims the specs pin with numRowsTotal probes.
    */
  private[graft] val StreamStateAllow: Map[String, String] = Map(
    "s_milestones" -> ("spendMilestones: state = one running long per " +
      "user — bounded by key cardinality, not history"),
    "s_milestones_v2" -> ("StateV2.spendMilestonesV2: same one-long-per-" +
      "user bound as s_milestones, held in a named ValueState column " +
      "family (TimeMode.None is the v2 spelling of NoTimeout)"),
    "s_zscore_v2" -> ("StateV2.rollingZscoreAlertsV2: same O(window)-per-" +
      "event_type bound as s_zscore, held in a ListState whose append " +
      "is O(delta) in RocksDB"),
    "s_zscore" -> ("rollingZscoreAlerts: state = last ≤window cents per " +
      "event_type (5 keys) — O(window) per key by construction"),
    "s_cusum" -> ("cusumAlerts: state = a few longs per event_type — " +
      "bounded by key cardinality"),
    "s_distinct_sketch" -> ("runningDistinctSketch: state = one fixed-size " +
      "HLL register array per bucket (fixed bucket count)"),
    "s_lsh_admission" -> ("LshAdmit: band-key state bounded by bands × " +
      "admitted index size — the admission index IS the product"),
    "s_lsh_admission_v2" -> ("StateV2.admitStreamV2: same bands × index " +
      "bound as s_lsh_admission, bucket members in a ListState with " +
      "O(delta) appends and handleInitialState corpus bootstrap"),
    "s_excel_drop" -> ("StreamOps.excelDropCounts: state = one count row " +
      "per language — bounded by key cardinality (≤ languages), not by " +
      "stream history; the drop-dir offset lives driver-side")
  )

  /** Streaming-plan audit (round-10 verdict task #7): the batch gate's
    * classes don't cover what kills a STREAMING pipeline at scale —
    * state that grows without a finalization signal. Runs on the
    * ANALYZED plan (streaming frames have no optimized plan until a
    * sink starts) and checks:
    *
    *   1. `stream-global-agg` — an ungrouped aggregate over a stream:
    *      one reducer and one ever-updating state row; at scale the
    *      whole stream funnels through a single task forever.
    *   2. `stateful-no-watermark` — a streaming aggregate, dedup, or
    *      stream-stream join with NO `EventTimeWatermark` anywhere in
    *      the plan: state never finalizes and never expires.
    *   3. `keyed-state-no-timeout` — `flatMapGroupsWithState` with
    *      `NoTimeout` outside [[StreamStateAllow]]: nothing ever
    *      removes a key's state, so only a written structural bound
    *      (key cardinality / fixed per-key size) makes it legal.
    */
  def auditStream(name: String, df: DataFrame): Seq[Violation] = {
    val plan = df.queryExecution.analyzed
    val out = Seq.newBuilder[Violation]
    if (!plan.isStreaming)
      out += Violation(name, "not-streaming",
        "auditStream called on a batch plan — register the streaming form")
    else {
      val hasWatermark = plan.exists {
        case _: EventTimeWatermark => true
        case _ => false
      }
      // EXACT key match (round-11 advice): a prefix match would let any
      // future pipeline whose name merely extends an allowlisted one
      // (s_zscore_experimental) inherit the exemption without its own
      // written bound — the _v2 tiers carry their own explicit entries
      val allowed = StreamStateAllow.contains(name)
      plan.foreach {
        case a: Aggregate if a.isStreaming =>
          if (a.groupingExpressions.isEmpty)
            out += Violation(name, "stream-global-agg",
              "ungrouped aggregate over a stream — one reducer, one " +
                "ever-updating global state row")
          else if (!hasWatermark && !allowed)
            out += Violation(name, "stateful-no-watermark",
              s"streaming aggregate on ${a.groupingExpressions.size} keys " +
                "with no event-time watermark — window state never " +
                "finalizes or expires")
        case d: Deduplicate if d.isStreaming && !hasWatermark && !allowed =>
          out += Violation(name, "stateful-no-watermark",
            s"streaming dropDuplicates on ${d.keys.size} keys with no " +
              "watermark — seen-key state grows with the stream forever")
        case j: Join if j.left.isStreaming && j.right.isStreaming && !hasWatermark =>
          out += Violation(name, "stateful-no-watermark",
            "stream-stream join with no watermark — both join buffers " +
              "grow without bound")
        case f: FlatMapGroupsWithState
            if f.isStreaming && !allowed &&
              f.timeout == org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout() =>
          out += Violation(name, "keyed-state-no-timeout",
            "flatMapGroupsWithState with NoTimeout outside the " +
              "StreamStateAllow list — state for a key is never removed; " +
              "add a timeout or a written structural bound")
        case t: TransformWithState if t.isStreaming =>
          // the v2 keyed-state operator: TimeMode is the plan-visible
          // expiry contract (TTL lives per-state-variable inside the
          // processor, invisible here, and requires ProcessingTime mode
          // anyway — so TimeMode.None provably means NOTHING can ever
          // remove a key's state)
          if (t.timeMode == org.apache.spark.sql.streaming.TimeMode.None() && !allowed)
            out += Violation(name, "keyed-state-no-timeout",
              "transformWithState with TimeMode.None outside the " +
                "StreamStateAllow list — no timers or TTL can ever remove " +
                "a key's state; pick a time mode or write the structural bound")
          else if (t.timeMode == org.apache.spark.sql.streaming.TimeMode.EventTime() &&
              !hasWatermark)
            out += Violation(name, "stateful-no-watermark",
              "transformWithState in EventTime mode with no watermark — " +
                "event-time timers can never fire, so expiry never happens")
        case _ =>
      }
    }
    out.result()
  }
}
