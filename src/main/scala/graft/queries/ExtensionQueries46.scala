package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-9 batch 34: sampling assurance, r×c independence, and storage
  * codec advice — exact-integer, DuckDB-oracle-gated.
  *
  *  - q231: hash-sample representativeness certificate.
  *  - q232: lang × source chi-square independence (the r×c general
  *    case of q181's 2×2).
  *  - q233: codec advisor — run counts and NDV ratios per column, with
  *    block-edge-corrected two-phase run counting.
  */
object ExtensionQueries46 extends QueryGroup {

  // --------------------------------------------------------------- q231

  /** q231: sample representativeness certificate — the deterministic
    * ~10% hash sample (`hash(custkey)·...` via the repo's modular
    * arithmetic, `(c·2654435761) mod p mod 10 = 0`) checked against the
    * population's market-segment mix: per segment, population share vs
    * sample share in ppm and the absolute gap; plus the certificate
    * every hash-sampling shortcut rests on — max gap below 5% — as a
    * boolean the oracle pins. Cross-multiplied arithmetic only.
    *
    * Scale shape: one customer pass computes BOTH memberships (the
    * sample predicate is a projection, not a second scan); shares are
    * segment-keyed aggregates against 1-row broadcast totals.
    */
  def q231_sample_representativeness(s: SparkSession, dir: String): DataFrame = {
    val P = 1000000007L
    val c = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("segment"),
        when(expr(s"(c_custkey % $P) * 2654435761 % $P % 10") === 0L, 1L)
          .otherwise(0L).as("in_sample"))
    val seg = c.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_pop"), sum(col("in_sample")).as("n_samp"))
    val tot = c.agg(count(lit(1)).as("t_pop"), sum(col("in_sample")).as("t_samp"))
    seg.crossJoin(broadcast(tot))
      .select(col("segment"), col("n_pop"), col("n_samp"),
        expr("n_pop * 1000000 div t_pop").as("pop_share_ppm"),
        expr("n_samp * 1000000 div t_samp").as("samp_share_ppm"),
        abs(expr("n_pop * 1000000 div t_pop") -
          expr("n_samp * 1000000 div t_samp")).as("gap_ppm"),
        (abs(expr("n_pop * 1000000 div t_pop") -
          expr("n_samp * 1000000 div t_samp")) < 50000L)
          .as("within_5pct"))
      .orderBy(col("segment"))
  }

  val q231Sql: String =
    """WITH c AS (
      |  SELECT c_mktsegment AS segment,
      |    CASE WHEN (c_custkey % 1000000007) * 2654435761
      |      % 1000000007 % 10 = 0 THEN 1 ELSE 0 END AS in_sample
      |  FROM customer
      |), seg AS (
      |  SELECT segment, count(*) AS n_pop,
      |    CAST(sum(in_sample) AS BIGINT) AS n_samp
      |  FROM c GROUP BY segment
      |), t AS (
      |  SELECT count(*) AS t_pop, CAST(sum(in_sample) AS BIGINT) AS t_samp
      |  FROM c
      |)
      |SELECT segment, n_pop, n_samp,
      |  CAST(n_pop * 1000000 // t_pop AS BIGINT) AS pop_share_ppm,
      |  CAST(n_samp * 1000000 // t_samp AS BIGINT) AS samp_share_ppm,
      |  abs(CAST(n_pop * 1000000 // t_pop AS BIGINT)
      |    - CAST(n_samp * 1000000 // t_samp AS BIGINT)) AS gap_ppm,
      |  abs(CAST(n_pop * 1000000 // t_pop AS BIGINT)
      |    - CAST(n_samp * 1000000 // t_samp AS BIGINT)) < 50000
      |    AS within_5pct
      |FROM seg, t
      |ORDER BY segment""".stripMargin

  // --------------------------------------------------------------- q232

  /** q232: language × source chi-square independence — the r×c general
    * case of q181's 2×2: per cell the exact Pearson contribution
    * `(o·T − r·c)²·10⁶ div (r·c·T)` in DECIMAL(38)-vs-HUGEINT
    * arithmetic (micro-units), plus each cell's observed count; the
    * total statistic is the cells' sum, recoverable downstream. Answers
    * "is the language mix the same across sources" — the corpus-
    * stratification design check.
    *
    * Scale shape: one documents pass → (lang, source) counts; margins
    * are re-aggregates of the tiny cell frame, broadcast back; the
    * decimal arithmetic is per-cell on a ≤|langs|·|sources| frame.
    */
  def q232_lang_source_chisq(s: SparkSession, dir: String): DataFrame = {
    val observed = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("obs"))
    val rowm = observed.groupBy(col("lang")).agg(sum(col("obs")).as("r"))
    val colm = observed.groupBy(col("source")).agg(sum(col("obs")).as("c"))
    val tot = observed.agg(sum(col("obs")).as("t"))
    // the FULL r×c grid — absent combinations are REAL zero cells and
    // carry chi-square mass (a language a source never emits is evidence
    // of dependence, not a row to drop)
    // |sources| is a category constant — broadcast declares it (PlanGate)
    val cells = rowm.select(col("lang"))
      .crossJoin(broadcast(colm.select(col("source"))))
      .join(observed, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("obs"), lit(0L)))
    cells.join(broadcast(rowm), "lang").join(broadcast(colm), "source")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("o"),
        expr("""CAST((o * t - r * c) AS DECIMAL(20,0))
                * CAST((o * t - r * c) AS DECIMAL(20,0))
                * CAST(1000000 AS DECIMAL(20,0))""").as("num"),
        expr("""CAST(r AS DECIMAL(20,0)) * CAST(c AS DECIMAL(20,0))
                * CAST(t AS DECIMAL(20,0))""").as("den"))
      .select(col("lang"), col("source"), col("o"),
        expr("num div den").as("chi2_micro"))
      .orderBy(col("lang"), col("source"))
  }

  val q232Sql: String =
    """WITH obs AS (
      |  SELECT lang, source, count(*) AS obs FROM documents
      |  GROUP BY lang, source
      |), rm AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS r FROM obs GROUP BY lang
      |), cm AS (SELECT source, CAST(sum(obs) AS BIGINT) AS c FROM obs GROUP BY source
      |), t AS (SELECT CAST(sum(obs) AS BIGINT) AS t FROM obs
      |), cells AS (
      |  SELECT rm.lang, cm.source, CAST(COALESCE(obs, 0) AS BIGINT) AS o
      |  FROM (SELECT lang FROM rm) rm
      |  CROSS JOIN (SELECT source FROM cm) cm
      |  LEFT JOIN obs ON obs.lang = rm.lang AND obs.source = cm.source
      |)
      |SELECT cells.lang, cells.source, o,
      |  CAST(CAST(o * t - r * c AS HUGEINT)
      |    * CAST(o * t - r * c AS HUGEINT) * 1000000
      |    // (CAST(r AS HUGEINT) * CAST(c AS HUGEINT) * CAST(t AS HUGEINT))
      |    AS BIGINT) AS chi2_micro
      |FROM cells
      |JOIN rm ON cells.lang = rm.lang
      |JOIN cm ON cells.source = cm.source, t
      |ORDER BY cells.lang, cells.source""".stripMargin

  // --------------------------------------------------------------- q233

  /** q233: storage codec advisor — for two categorical order columns,
    * the exact number of value RUNS in o_orderkey (storage) order, the
    * RLE compression ratio and NDV it implies, and the advisor verdict
    * (RLE when runs ≤ rows/4; DICT when ndv ≤ rows/100; else PLAIN).
    * Run counting is the TWO-PHASE shape: rows land in
    * `o_orderkey div 4096` blocks; within-block boundaries come from a
    * block-partitioned lag window, and the block-EDGE corrections from
    * joining each block's (first, last) value summary to its
    * predecessor — no global window anywhere.
    *
    * Scale shape: one orders pass feeds both columns (stacked); the
    * edge-summary frame is |blocks|-sized; everything downstream is
    * column-keyed.
    */
  def q233_codec_advisor(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"),
        expr("stack(2, 'o_orderpriority', o_orderpriority, " +
          "'o_orderstatus', o_orderstatus) AS (col, v)"))
      .withColumn("blk", expr("k div 4096"))
    val w = Window.partitionBy(col("col"), col("blk")).orderBy(col("k"))
    val inner = o
      .withColumn("prev", lag(col("v"), 1).over(w))
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("prev").isNotNull && col("prev") =!= col("v"), 1L)
          .otherwise(0L)).as("inner_bounds"),
        countDistinct(col("v")).as("ndv"))
    // successor block via lead over the |blocks|-sized summary (blocks can
    // be sparse if the key space has holes), partitioned per column
    val wb = Window.partitionBy(col("col")).orderBy(col("blk"))
    val edges = o.groupBy(col("col"), col("blk"))
      .agg(min(struct(col("k"), col("v"))).getField("v").as("first_v"),
        max(struct(col("k"), col("v"))).getField("v").as("last_v"))
      .withColumn("next_first", lead(col("first_v"), 1).over(wb))
    val edgeBounds = edges
      .groupBy(col("col"))
      .agg(sum(when(col("next_first").isNotNull &&
        col("last_v") =!= col("next_first"), 1L).otherwise(0L))
        .as("edge_bounds"))
    inner.join(edgeBounds, "col")
      .select(col("col"), col("n_rows"), col("ndv"),
        (col("inner_bounds") + col("edge_bounds") + 1).as("n_runs"))
      .select(col("col"), col("n_rows"), col("ndv"), col("n_runs"),
        expr("n_runs * 1000000 div n_rows").as("run_ratio_ppm"),
        when(col("n_runs") * 4 <= col("n_rows"), "RLE")
          .when(col("ndv") * 100 <= col("n_rows"), "DICT")
          .otherwise(lit("PLAIN")).as("advice"))
      .orderBy(col("col"))
  }

  val q233Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k, 'o_orderpriority' AS col,
      |    o_orderpriority AS v, o_orderkey // 4096 AS blk FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'o_orderstatus', o_orderstatus,
      |    o_orderkey // 4096 FROM orders
      |), inner_b AS (
      |  SELECT col, count(*) AS n_rows,
      |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> v
      |      THEN 1 ELSE 0 END) AS BIGINT) AS inner_bounds,
      |    count(DISTINCT v) AS ndv
      |  FROM (
      |    SELECT col, v,
      |      lag(v, 1) OVER (PARTITION BY col, blk ORDER BY k) AS prev
      |    FROM o
      |  ) GROUP BY col
      |), edges AS (
      |  SELECT col, blk,
      |    arg_min(v, k) AS first_v, arg_max(v, k) AS last_v,
      |    lead(arg_min(v, k), 1) OVER (PARTITION BY col ORDER BY blk)
      |      AS next_first
      |  FROM o GROUP BY col, blk
      |), eb AS (
      |  SELECT col,
      |    CAST(sum(CASE WHEN next_first IS NOT NULL
      |      AND last_v <> next_first THEN 1 ELSE 0 END) AS BIGINT)
      |      AS edge_bounds
      |  FROM edges
      |  GROUP BY col
      |)
      |SELECT inner_b.col, n_rows, ndv,
      |  inner_bounds + edge_bounds + 1 AS n_runs,
      |  CAST((inner_bounds + edge_bounds + 1) * 1000000 // n_rows
      |    AS BIGINT) AS run_ratio_ppm,
      |  CASE WHEN (inner_bounds + edge_bounds + 1) * 4 <= n_rows
      |    THEN 'RLE'
      |    WHEN ndv * 100 <= n_rows THEN 'DICT'
      |    ELSE 'PLAIN' END AS advice
      |FROM inner_b JOIN eb ON inner_b.col = eb.col
      |ORDER BY inner_b.col""".stripMargin

  // ---------------------------------------------------------- registry

  val entries: Seq[Query] = Seq(
    Query("q231_sample_representativeness", q231_sample_representativeness _, q231Sql),
    Query("q232_lang_source_chisq", q232_lang_source_chisq _, q232Sql),
    Query("q233_codec_advisor", q233_codec_advisor _, q233Sql)
  )
}
