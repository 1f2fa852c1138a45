package graft

/** Fleet-wide plan-shape gate (round-9 verdict task #1): every registered
  * query's OPTIMIZED plan is swept by [[graft.plans.PlanGate]] for the
  * scale-killer classes that size-driven test-SF physical plans hide —
  * non-equi joins whose broadcast side is neither structurally bounded
  * (`maxRows`) nor hint-declared (the q147 BNLJ-build-side bug class that
  * survived eight rounds until a manual ExplainAudit read), partition-less
  * windows over unbounded input, `ScalaUDF`s, and object/lambda operators
  * outside the pinned allowlist. One green test = no future query can
  * reintroduce any of these silently.
  *
  * Runs at sf0.001 — the audit inspects the logical plan, which carries
  * the same scale-invariant facts at every SF; the smallest dir keeps the
  * builder-internal driver actions (ANN/BPE training folds) cheap.
  */
class FleetPlanShapeSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  test("all registered queries pass the PlanGate scale-shape audit") {
    val violations = graft.plans.PlanGate.auditQueries(spark, sf,
      SparkEntry.queries.keys.toSeq.sorted)
    assert(violations.isEmpty,
      s"\n${violations.size} plan-shape violations:\n" +
        violations.mkString("\n") +
        "\nEither fix the plan (bound/hint the build side, partition the " +
        "window) or — only with a written justification — extend " +
        "PlanGate.ObjectNodeAllow.")
  }

  test("the gate itself still rejects the q147 bug class (fixture)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the historical bug: an UNHINTED non-equi pair join — Spark picks the
    // build side from size stats, which at scale is the corpus
    val emb = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val bad = emb.as("a").join(emb.as("b"),
      col("a.vec_id") =!= col("b.vec_id"))
    val vs = graft.plans.PlanGate.audit("fixture_q147", bad)
    assert(vs.exists(_.kind == "nonequi-join-unbounded"),
      s"gate failed to flag the unhinted non-equi pair join: $vs")
    // the fix shape: an explicit broadcast() on the bounded probe side
    val probes = emb.filter(col("vec_id") < 8).as("b")
    val good = emb.as("a").join(broadcast(probes),
      col("a.vec_id") =!= col("b.vec_id"))
    assert(graft.plans.PlanGate.audit("fixture_q147_fixed", good).isEmpty)
    // partition-less window over the corpus: flagged
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))
    val gw = emb.withColumn("rn", row_number().over(w))
    assert(graft.plans.PlanGate.audit("fixture_gw", gw)
      .exists(_.kind == "global-window"))
    // ScalaUDF: flagged
    val f = udf((x: Long) => x + 1)
    assert(graft.plans.PlanGate.audit("fixture_udf",
      emb.select(f(col("vec_id")))).exists(_.kind == "scala-udf"))
  }

  test("the gate flags disguised global windows and single-partition funnels") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"))
    // constant partition spec = every row in one task, same as no spec
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("vec_id"))
    assert(graft.plans.PlanGate.audit("fixture_constw",
      emb.withColumn("rn", row_number().over(w)))
      .exists(_.kind == "global-window"))
    assert(graft.plans.PlanGate.audit("fixture_coalesce1", emb.coalesce(1))
      .exists(_.kind == "single-partition"))
    assert(graft.plans.PlanGate.audit("fixture_repart1", emb.repartition(1))
      .exists(_.kind == "single-partition"))
    // bounded input may funnel: a 1-row aggregate coalesced is fine
    assert(graft.plans.PlanGate.audit("fixture_coalesce_bounded",
      emb.agg(max(col("vec_id"))).coalesce(1)).isEmpty)
  }

  test("the gate's build-side rule follows the join type") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"))
    val oneRow = emb.agg(max(col("vec_id")).as("mx")) // maxRows = 1
    def kinds(df: org.apache.spark.sql.DataFrame) =
      graft.plans.PlanGate.audit("fixture_jt", df).map(_.kind)

    // non-equi LEFT join: only the RIGHT side can build — a bounded
    // LEFT side must NOT excuse it
    val leftBoundedWrongSide =
      oneRow.join(emb, col("mx") =!= col("vec_id"), "left")
    assert(kinds(leftBoundedWrongSide).contains("nonequi-join-unbounded"),
      "left-outer with only the LEFT side bounded must still flag")
    val leftOk = emb.join(oneRow, col("mx") =!= col("vec_id"), "left")
    assert(kinds(leftOk).isEmpty, "left-outer with bounded RIGHT side is fine")

    // non-equi LEFT SEMI follows the same rule
    val semiOk = emb.join(oneRow, col("mx") =!= col("vec_id"), "left_semi")
    assert(kinds(semiOk).isEmpty)

    // the 1-row scalar crossJoin idiom stays clean without any hint
    assert(kinds(emb.crossJoin(oneRow)).isEmpty,
      "1-row aggregate fan-out must pass on maxRows alone")

    // an equi-key conjunct makes any extra non-equi predicate fine
    val equiPlus = emb.as("a").join(emb.as("b"),
      col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
    assert(kinds(equiPlus).isEmpty,
      "equi-key + range residual plans as a hash join — never BNLJ")
  }

  test("the full streaming surface passes the streaming state gate") {
    val violations = graft.streaming.StreamOps.gatedStreams(spark, sf)
      .flatMap { case (name, df) =>
        try graft.plans.PlanGate.auditStream(name, df)
        catch {
          case e: Throwable =>
            Seq(graft.plans.PlanGate.Violation(name, "build-error",
              e.toString.linesIterator.next()))
        }
      }
    assert(violations.isEmpty,
      s"\n${violations.size} streaming state violations:\n" +
        violations.mkString("\n") +
        "\nAdd the missing watermark/timeout, or — only with a written " +
        "structural bound — extend PlanGate.StreamStateAllow.")
  }

  test("the streaming gate rejects unbounded-state shapes (fixtures)") {
    import org.apache.spark.sql.functions._
    val schema = graft.streaming.StreamOps.EventsSchema
    def freshStream = graft.core.Tables.toLongNanos(
      spark.readStream.schema(spark.read
          .parquet(s"$sf/events.parquet").schema)
        .parquet(s"$sf/events.parquet"))
    def kinds(name: String, df: org.apache.spark.sql.DataFrame) =
      graft.plans.PlanGate.auditStream(name, df).map(_.kind)
    assert(schema.fieldNames.contains("ts")) // schema is the contract here

    // windowed agg with NO watermark: window state never finalizes
    val e = freshStream
    val noWm = graft.streaming.StreamOps.tumblingAgg(e, "1 hour")
    assert(kinds("fixture_no_wm", noWm).contains("stateful-no-watermark"))
    // the same shape watermarked passes
    assert(kinds("fixture_wm",
      graft.streaming.StreamOps.tumblingAggLate(e, "1 hour", "30 minutes")).isEmpty)

    // ungrouped aggregate over a stream: one global state row, one task
    val globalAgg = e.agg(count(lit(1)).as("n"))
    assert(kinds("fixture_global", globalAgg).contains("stream-global-agg"))

    // dropDuplicates with no watermark: seen-set grows forever
    val dedupNoWm = e.dropDuplicates("user_id", "event_type")
    assert(kinds("fixture_dedup", dedupNoWm).contains("stateful-no-watermark"))

    // keyed NoTimeout state outside the allowlist: flagged; the SAME
    // plan under an allowlisted name passes (written-bound discipline)
    val fmgws = graft.streaming.StreamOps.spendMilestones(e, 10000L).toDF()
    assert(kinds("fixture_fmgws", fmgws).contains("keyed-state-no-timeout"))
    assert(kinds("s_milestones", fmgws).isEmpty)

    // the v2 spelling of the same class: transformWithState in
    // TimeMode.None (no timers, and TTL would need ProcessingTime)
    // outside the allowlist is flagged; allowlisted name passes
    val tws = graft.streaming.StateV2.spendMilestonesV2(e, 10000L).toDF()
    assert(kinds("fixture_tws", tws).contains("keyed-state-no-timeout"))
    assert(kinds("s_milestones_v2", tws).isEmpty)

    // EventTime-mode transformWithState WITH its watermark passes (the
    // registered funnel shape: timers + watermark = bounded state)
    assert(kinds("fixture_tws_et",
      graft.streaming.StateV2.conversionFunnelV2(e).toDF()).isEmpty)

    // ...but EventTime mode with NO watermark is flagged: the timers
    // that are supposed to expire state can never fire
    locally {
      import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
        TimeMode, TimerValues}
      import spark.implicits._
      val p = new StatefulProcessor[Long, (Long, String), String] {
        override def init(o: OutputMode, t: TimeMode): Unit = ()
        override def handleInputRows(k: Long, rows: Iterator[(Long, String)],
            tv: TimerValues): Iterator[String] = Iterator.empty
      }
      val noWmEt = e.select(col("user_id"), col("event_type"))
        .as[(Long, String)].groupByKey(_._1)
        .transformWithState(p, TimeMode.EventTime(), OutputMode.Append()).toDF()
      assert(kinds("fixture_tws_et_nowm", noWmEt).contains("stateful-no-watermark"))
    }

    // a batch frame is not a streaming registration
    assert(kinds("fixture_batch",
      graft.core.Tables.events(spark, sf)).contains("not-streaming"))

    // EXACT allowlist match (round-11 advice): a name that merely EXTENDS
    // an allowlisted one must NOT inherit its written bound
    assert(kinds("s_milestones_experimental", fmgws)
      .contains("keyed-state-no-timeout"),
      "prefix-extended name inherited the s_milestones exemption")
  }

  test("the gate rejects unbounded recursive-CTE shapes (fixtures)") {
    def kinds(name: String, df: org.apache.spark.sql.DataFrame) =
      graft.plans.PlanGate.audit(name, df).map(_.kind)

    // path enumeration: the recursive member JOINS the frontier but never
    // dedups a level — rows grow as walks, not vertices
    val noDedup = spark.sql(
      s"""WITH RECURSIVE e AS (
         |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM parquet.`$sf/lineitem.parquet` a
         |  JOIN parquet.`$sf/lineitem.parquet` b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |), walk(id, dist) AS (
         |  SELECT p_partkey, 0 FROM parquet.`$sf/part.parquet` WHERE p_partkey < 3
         |  UNION ALL
         |  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.id
         |  WHERE w.dist < 4
         |)
         |SELECT dist, count(*) AS n FROM walk GROUP BY dist""".stripMargin)
    assert(kinds("fixture_rec_nodedup", noDedup).contains("recursive-join-no-dedup"),
      "joining recursive member without per-level DISTINCT must flag")

    // guard-less recursion: no filter on the loop's own columns — each
    // level re-emits every row forever; only the engine's depth-100 error
    // stops it. (The audit only OPTIMIZES the plan — nothing executes.)
    val noGuard = spark.sql(
      s"""WITH RECURSIVE w(id, d) AS (
         |  SELECT p_partkey, 0 FROM parquet.`$sf/part.parquet` WHERE p_partkey < 3
         |  UNION ALL
         |  SELECT id, d + 1 FROM w
         |)
         |SELECT max(d) AS md FROM w""".stripMargin)
    assert(kinds("fixture_rec_noguard", noGuard).contains("recursive-no-guard"),
      "recursion with no frontier guard must flag")

    // the three registered recursive queries pass (their guards: q314
    // cur > 0 value convergence, q315 bal > 0 AND months < 99 belt, q316
    // DISTINCT-per-level + dist < 4) — also covered by the full sweep,
    // pinned here so a gate regression is attributable
    Seq("q314_recursive_hierarchy", "q315_recursive_payoff",
        "q316_recursive_bfs").foreach { q =>
      val vs = graft.plans.PlanGate.audit(q, SparkEntry.queries(q)(spark, sf))
      assert(vs.isEmpty, s"$q: $vs")
    }
  }
}
