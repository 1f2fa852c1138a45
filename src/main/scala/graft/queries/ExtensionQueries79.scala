package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.TextAnalysis
import graft.ops.{DenseIds, PrefixScan}

/** Round-12 batch 5: training-batch engineering + model-eval audits.
  *
  *  - q329 calibration table: the quality-classifier eval that decides
  *    whether a filter's scores can be thresholded — per score-decile,
  *    the observed positive rate in exact ppm (reliability-diagram
  *    cells). Deciles are EXACT rank cells from a distributed prefix
  *    sum (the q183 machinery), never ntile's global window.
  *  - q330 padding-waste audit: the cost model for length-bucketed
  *    batching — sort by length desc (the standard bucketing), chunk
  *    into batches of b, and measure the padding overhead
  *    Σ(batch_max − len) exactly, per candidate batch size. The rank is
  *    [[DenseIds]]' two-phase dense id, never a single-reducer global
  *    row_number.
  *  - q331 robust per-dimension embedding scaler: lower-median and
  *    lower-MAD per dimension in exact micro-units (floats scaled to
  *    integers FIRST, so the order statistics are integer-exact
  *    cross-engine — no percentile-interpolation ulp hazard), plus the
  *    >5×MAD outlier census — the robust alternative to mean/std
  *    scaling that q222's norm audit pairs with.
  *
  * Scale shapes: q329 is one scan → margin fold → value-keyed counts →
  * PrefixScan (range-partitioned, broadcast offsets); q330 is one scan
  * → DenseIds (range-partitioned two-phase) → two map-side-combined
  * aggregates; q331's windows partition BY DIMENSION (64 partitions,
  * rows per partition = vector count — the intrinsic shape of an exact
  * per-dim order statistic; the sketch path at extreme scale is q82's
  * GK quantiles).
  */
object ExtensionQueries79 extends QueryGroup {

  // --------------------------------------------------------------- q329

  /** q329: reliability table of the q130 hash classifier's margin
    * against the lang=='en' label — per margin-decile: docs, positives,
    * positive rate ppm, and the bin's margin span. Ties share the bin
    * of their last member (exact-rank cells, deterministic).
    */
  def q329_calibration_bins(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val m = ExtensionQueries13.hashMargin(docs, "doc_id", "text")
    val lab = docs.select(col("doc_id"),
      (col("lang") === "en").cast("long").as("pos"))
    val scored = m.join(lab, "doc_id")
    val counts = scored.groupBy(col("margin"))
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
    val cum = PrefixScan.prefixSumsInclusive(counts, 32, Seq(col("margin")),
      Seq((col("c"), "cum")))
    val tot = scored.agg(count(lit(1)).as("n")) // 1-row broadcast
    cum.crossJoin(broadcast(tot))
      .select(col("margin"), col("c"), col("p"),
        expr("((cum - 1) * 10) div n").as("bin"))
      .groupBy(col("bin"))
      .agg(sum(col("c")).as("n_docs"), sum(col("p")).as("n_pos"),
        min(col("margin")).as("margin_lo"), max(col("margin")).as("margin_hi"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        col("margin_lo"), col("margin_hi"),
        expr("n_pos * 1000000L div n_docs").as("pos_rate_ppm"))
      .orderBy(col("bin"))
  }

  val q329Sql: String = {
    val ph = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, length(tok)+1), i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))), " +
      "(a, b) -> (a*31 + b) % 1000000007)"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), w AS (
       |  SELECT doc_id,
       |    (($ph % ${ExtensionQueries13.HashDim}) * ${ExtensionQueries13.WeightMul})
       |      % ${ExtensionQueries13.WeightMod}
       |      - ${(ExtensionQueries13.WeightMod - 1) / 2} AS wgt
       |  FROM toks
       |), sc AS (
       |  SELECT w.doc_id, CAST(sum(wgt) AS BIGINT) AS margin,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
       |  FROM w JOIN documents d ON w.doc_id = d.doc_id
       |  GROUP BY w.doc_id, d.lang
       |), cnt AS (
       |  SELECT margin, count(*) AS c, CAST(sum(pos) AS BIGINT) AS p
       |  FROM sc GROUP BY margin
       |), cum AS (
       |  SELECT margin, c, p,
       |    CAST(sum(c) OVER (ORDER BY margin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM cnt
       |), t AS (SELECT count(*) AS n FROM sc)
       |SELECT ((cum - 1) * 10) // n AS bin,
       |  CAST(sum(c) AS BIGINT) AS n_docs, CAST(sum(p) AS BIGINT) AS n_pos,
       |  min(margin) AS margin_lo, max(margin) AS margin_hi,
       |  CAST(sum(p) * 1000000 // sum(c) AS BIGINT) AS pos_rate_ppm
       |FROM cum, t
       |GROUP BY bin ORDER BY bin""".stripMargin
  }

  // --------------------------------------------------------------- q330

  /** q330: padding waste per candidate batch size — documents sorted by
    * token length desc (ties on doc_id), batched in rank order; waste =
    * Σ over batches of (batch_max − len) summed over members, in exact
    * ppm of the padded total.
    */
  def q330_padding_waste(s: SparkSession, dir: String): DataFrame = {
    val lens = Tables.documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
    val ranked = DenseIds.withDenseId(lens, "rk", 32,
      col("n_tok").desc, col("doc_id"))
    ranked.select(col("n_tok"), col("rk"),
        explode(array(lit(8L), lit(32L))).as("b"))
      .groupBy(col("b"), expr("rk div b").as("grp"))
      .agg(max(col("n_tok")).as("mx"), sum(col("n_tok")).as("tok"),
        count(lit(1)).as("sz"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_batches"),
        sum(col("tok")).as("total_tokens"),
        sum(col("mx") * col("sz")).as("padded_tokens"))
      .select(col("b"), col("n_batches"), col("total_tokens"),
        col("padded_tokens"),
        expr("(padded_tokens - total_tokens) * 1000000L div padded_tokens")
          .as("waste_ppm"))
      .orderBy(col("b"))
  }

  val q330Sql: String =
    """WITH lens AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents
      |), ranked AS (
      |  SELECT n_tok,
      |    row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS rk
      |  FROM lens
      |), lv AS (
      |  SELECT n_tok, rk, b FROM ranked, (SELECT unnest([8, 32]) AS b)
      |), g AS (
      |  SELECT b, rk // b AS grp, max(n_tok) AS mx,
      |    CAST(sum(n_tok) AS BIGINT) AS tok, count(*) AS sz
      |  FROM lv GROUP BY 1, 2
      |)
      |SELECT CAST(b AS BIGINT) AS b, count(*) AS n_batches,
      |  CAST(sum(tok) AS BIGINT) AS total_tokens,
      |  CAST(sum(mx * sz) AS BIGINT) AS padded_tokens,
      |  CAST((sum(mx * sz) - sum(tok)) * 1000000
      |    // sum(mx * sz) AS BIGINT) AS waste_ppm
      |FROM g GROUP BY b ORDER BY b""".stripMargin

  // --------------------------------------------------------------- q331

  /** q331: per-dimension robust scaler stats — embedding floats scaled
    * to integer micro-units first (round-half-away, identical in both
    * engines), then LOWER median / LOWER MAD as exact order statistics
    * (rank ceil(n/2) via the cum-count idiom) and the strict >5×MAD
    * outlier count.
    */
  def q331_embedding_robust_scale(s: SparkSession, dir: String): DataFrame = {
    val vals = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 1000000).cast("long").as("v"))
    def lowerMedian(df: DataFrame, valueCol: String, outName: String): DataFrame = {
      val counts = df.groupBy(col("dim"), col(valueCol)).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("dim")).orderBy(col(valueCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = df.groupBy(col("dim")).agg(count(lit(1)).as("n"))
      counts.withColumn("cum", sum(col("c")).over(w))
        .join(tot, "dim")
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy(col("dim")).agg(min(col(valueCol)).as(outName))
    }
    val med = lowerMedian(vals, "v", "med_micro")
    val dev = vals.join(med, "dim")
      .select(col("dim"), abs(col("v") - col("med_micro")).as("d"),
        col("v"), col("med_micro"))
    val mad = lowerMedian(dev.select(col("dim"), col("d")), "d", "mad_micro")
    dev.join(mad, "dim")
      .groupBy(col("dim"), col("med_micro"), col("mad_micro"))
      .agg(count(lit(1)).as("n_values"),
        sum(when(col("d") > col("mad_micro") * 5, 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("dim"), col("n_values"), col("med_micro"),
        col("mad_micro"), col("n_outliers"))
      .orderBy(col("dim"))
  }

  val q331Sql: String =
    """WITH vals AS (
      |  SELECT dim - 1 AS dim,
      |    CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS v
      |  FROM (SELECT unnest(embedding) AS x,
      |          generate_subscripts(embedding, 1) AS dim
      |        FROM embeddings)
      |), med AS (
      |  SELECT dim, min(v) AS med_micro FROM (
      |    SELECT dim, v,
      |      CAST(sum(c) OVER (PARTITION BY dim ORDER BY v
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |      CAST(sum(c) OVER (PARTITION BY dim) AS BIGINT) AS n
      |    FROM (SELECT dim, v, count(*) AS c FROM vals GROUP BY 1, 2)
      |  ) WHERE cum >= (n + 1) // 2 GROUP BY dim
      |), dev AS (
      |  SELECT vals.dim, abs(v - med_micro) AS d, med_micro
      |  FROM vals JOIN med ON vals.dim = med.dim
      |), mad AS (
      |  SELECT dim, min(d) AS mad_micro FROM (
      |    SELECT dim, d,
      |      CAST(sum(c) OVER (PARTITION BY dim ORDER BY d
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |      CAST(sum(c) OVER (PARTITION BY dim) AS BIGINT) AS n
      |    FROM (SELECT dim, d, count(*) AS c FROM dev GROUP BY 1, 2)
      |  ) WHERE cum >= (n + 1) // 2 GROUP BY dim
      |)
      |SELECT dev.dim, count(*) AS n_values, dev.med_micro, mad.mad_micro,
      |  CAST(sum(CASE WHEN d > mad_micro * 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM dev JOIN mad ON dev.dim = mad.dim
      |GROUP BY dev.dim, dev.med_micro, mad.mad_micro
      |ORDER BY dev.dim""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q329_calibration_bins", q329_calibration_bins _, q329Sql),
    Query("q330_padding_waste", q330_padding_waste _, q330Sql),
    Query("q331_embedding_robust_scale", q331_embedding_robust_scale _, q331Sql)
  )
}
