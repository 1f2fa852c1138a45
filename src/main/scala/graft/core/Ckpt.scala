package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** One config point for every eager lineage-truncation checkpoint in the
  * engine (round-19 verdict task #8).
  *
  * The fixpoint family (PageRank, KCore, StarContract, LabelProp, Bfs,
  * the wedge-edge builds) depends on eager checkpoints to stop per-round
  * plan growth and to pin one materialization for multi-consumer frames.
  * `localCheckpoint` is the right tool in local mode and on the bench —
  * no durable storage round-trip — but its blocks are NON-reliable: on a
  * real cluster an executor loss mid-query kills the job instead of
  * recomputing (lineage is truncated; the round-18 bench tail is a wall
  * of exactly that warning).
  *
  * So the choice is a deployment posture, not a per-call-site decision:
  *  - default (no conf): `localCheckpoint(eager = true)` — bit-identical
  *    to what every call site did before this object existed;
  *  - `spark.conf.set("graft.checkpoint.dir", "<fault-tolerant path>")`:
  *    reliable `checkpoint(eager = true)` into that directory — the
  *    100 TB posture, where a recomputable (or at least restartable)
  *    intermediate beats a job-fatal block loss. The checkpoint dir is
  *    installed on the SparkContext on first use, and re-installed
  *    whenever the configured dir changes.
  *
  * CkptSpec proves the two paths produce identical output on the
  * operators whose rounds depend on the checkpoint.
  */
object Ckpt {

  val DirKey = "graft.checkpoint.dir"

  /** Eagerly materialize `ds` and truncate its lineage, via the
    * configured checkpoint flavor (see object doc). */
  def eager[T](ds: Dataset[T]): Dataset[T] = {
    val dir = configuredDir(ds)
    if (dir.isEmpty) ds.localCheckpoint(eager = true)
    else ds.checkpoint(eager = true)
  }

  /** [[eager]] that also returns the row count. The checkpoint is marked
    * lazily and materialized by one count of its stored RDD, so the count
    * is that one job's result, not a job of its own. The stored RDD is
    * persisted in both flavors: a local checkpoint always is, and a
    * reliable one is persisted here so its write reads the counted blocks
    * instead of computing `ds` again. Either way the frame reads those
    * blocks while they are resident; unpersisting them ends that (a
    * local checkpoint cannot be read again, a reliable one reads its
    * files).
    */
  def counted[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val reliable = configuredDir(ds).nonEmpty
    val out = if (reliable) ds.checkpoint(eager = false) else ds.localCheckpoint(eager = false)
    val rdd = stored(out)
    if (reliable) rdd.persist(StorageLevel.MEMORY_AND_DISK)
    (out, rdd.count())
  }

  /** The stored RDD of a checkpointed frame: its one `LogicalRDD` leaf. */
  def stored(ds: Dataset[_]): RDD[_] =
    ds.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }
      .getOrElse(throw new IllegalArgumentException("not a checkpointed frame"))

  /** `graft.checkpoint.dir`, installed on the context when set ("" when
    * unset). `setCheckpointDir` installs a fresh `<dir>/<uuid>` child
    * (fully qualified), so the installed dir's parent is what `dir` must
    * match. */
  private def configuredDir(ds: Dataset[_]): String = {
    val spark = ds.sparkSession
    val dir = try spark.conf.get(DirKey, "") catch { case _: Throwable => "" }
    if (dir.nonEmpty) {
      val sc = spark.sparkContext
      val want = new Path(dir)
      val qualified = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
      if (!sc.getCheckpointDir.exists(new Path(_).getParent == qualified))
        sc.setCheckpointDir(dir)
    }
    dir
  }
}
