package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gaps-and-islands sessionization of the events stream: a user's session
  * ends when the next event comes more than [[GapUs]] after the previous
  * one. Every session query (paths, dwell, co-visitation, concurrency,
  * conversion) cuts its sessions here, so the gap rule lives in one place.
  *
  * Scale shape: one window family partitioned by user — parallel across
  * users, never a global window. `(us, event_id)` is a unique total order
  * per user, so the islands are deterministic under timestamp ties.
  */
object Sessions {

  /** The inactivity gap, in exact microseconds (30 minutes). Time is
    * compared as integer µs (`ts div 1000`), never through a double —
    * nanoseconds exceed 2^53.
    */
  val GapUs: Long = 30L * 60 * 1000000L

  /** Per-user window in event order; callers that need `lead`/`lag` in
    * session order reuse it so they ride the same user exchange.
    */
  val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))

  /** Adds `new_sess` (1 where the gap to the user's previous event exceeds
    * [[GapUs]], else 0) and `session_id` (the running sum of `new_sess`,
    * i.e. the user's 0-based session ordinal) to a frame holding
    * `user_id`, `event_id` and `us`. The caller keeps its own projection.
    */
  def flag(df: DataFrame): DataFrame =
    df.withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(byUser) > GapUs, 1L)
          .otherwise(lit(0L)))
      .withColumn("session_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
}
