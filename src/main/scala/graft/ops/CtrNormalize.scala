package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Columns

/** The reference's data-dependent CTR normalization (`etl_merge.py:295-312`,
  * SURVEY §2 F4): strip '%' and ',', parse to double, and divide the WHOLE
  * column by 100 iff (any value contained '%') OR (more than half of ALL rows
  * parse into (1, 100]).
  *
  * Note the denominator: pandas `.mean()` runs over the full boolean mask —
  * NaN comparisons are False — so the fraction is over all rows, not non-null
  * rows (a subtlety SURVEY §2 F4 initially mis-stated; the code wins).
  *
  * Not a per-row expression — it needs one aggregate pass over the column.
  * Implemented plan-natively: 1-row decision aggregate, broadcast
  * cross-joined back in. No driver-side action, so the stage composes lazily
  * with the rest of the plan and scales: the decision agg is a partial-agg
  * shuffle of three longs per partition.
  */
object CtrNormalize {

  /** Cleaned numeric parse: remove '%' and ',', trim, coerce (invalid → null
    * like pd.to_numeric(errors="coerce") — try_cast, not cast, so ANSI mode
    * doesn't throw on garbage).
    */
  def cleaned(c: Column): Column =
    trim(translate(c, "%,", "")).try_cast("double")

  /** Normalize column `src` of `df` into `dst` (double). */
  def apply(df: DataFrame, src: String, dst: String): DataFrame =
    applyMany(df, Seq(src -> dst))

  /** Normalize several columns with ONE decision aggregate (one extra scan
    * total instead of one per column).
    */
  def applyMany(df: DataFrame, cols: Seq[(String, String)]): DataFrame = {
    val flags = cols.zipWithIndex.flatMap { case ((src, _), i) =>
      val parsed = cleaned(col(src))
      Seq(
        max(coalesce(col(src).contains("%"), lit(false))).as(s"saw_pct_$i"),
        avg(when(parsed > 1.0 && parsed <= 100.0, 1.0).otherwise(0.0)).as(s"frac_mid_$i"))
    }
    val decision = df.agg(flags.head, flags.tail: _*)
    Columns.put(df.crossJoin(broadcast(decision)), cols.zipWithIndex.map {
      case ((src, dst), i) =>
        val parsed = cleaned(col(src))
        dst -> when(col(s"saw_pct_$i") || col(s"frac_mid_$i") > 0.5, parsed / 100.0)
          .otherwise(parsed)
    }, drop = cols.indices.flatMap(i => Seq(s"saw_pct_$i", s"frac_mid_$i")).toSet)
  }
}
