package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset

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
    val spark = ds.sparkSession
    val dir = try spark.conf.get(DirKey, "") catch { case _: Throwable => "" }
    if (dir.isEmpty) ds.localCheckpoint(eager = true)
    else {
      val sc = spark.sparkContext
      // setCheckpointDir installs a fresh `<dir>/<uuid>` child (fully
      // qualified), so the installed dir's parent is what `dir` must match
      val want = new Path(dir)
      val qualified = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
      if (!sc.getCheckpointDir.exists(new Path(_).getParent == qualified))
        sc.setCheckpointDir(dir)
      ds.checkpoint(eager = true)
    }
  }
}
