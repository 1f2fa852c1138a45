package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Column edits as one projection. */
object Columns {

  /** `df` with each of `cols` replacing the same-named column in place or,
    * when new, appended in the given order, and the `drop` columns removed:
    * what a `withColumn` chain followed by `drop` returns, as one `select`.
    * A chain analyzes the growing plan again at every step; the optimizer
    * collapses the projections either way. Every expression reads `df`'s
    * columns, so a column computed from another new one goes into the next
    * call: one call per dependency level.
    */
  def put(df: DataFrame, cols: Seq[(String, Column)], drop: Set[String] = Set.empty): DataFrame = {
    val given = cols.toMap
    val have = df.columns.toSet
    val kept = df.columns.toSeq.filterNot(drop).map(c =>
      given.get(c).fold(col(s"`${c.replace("`", "``")}`"))(_.as(c)))
    val added = cols.collect { case (c, e) if !have(c) => e.as(c) }
    df.select(kept ++ added: _*)
  }
}
