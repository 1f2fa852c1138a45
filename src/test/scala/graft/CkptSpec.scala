package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.core.Ckpt
import graft.ops.{KCore, StarContract}

/** The deployment-posture checkpoint knob (round-19 verdict task #8).
  *
  * Every eager lineage-truncation in the engine goes through
  * [[graft.core.Ckpt.eager]]: `localCheckpoint` by default (local mode /
  * the bench), reliable `checkpoint` into `graft.checkpoint.dir` when
  * that conf is set (the 100 TB posture — non-reliable blocks turn an
  * executor loss into a job failure once lineage is truncated). The knob
  * must be a pure substitution: identical output either way, proven here
  * on the fixpoint operators whose rounds depend on the checkpoint.
  */
class CkptSpec extends SparkSpecBase {

  import spark.implicits._

  private def edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (12L, 10L),
    (20L, 21L), (5L, 1L), (6L, 6L), (7L, 8L))
    .toDF("src", "dst")

  private def nodes = (1L to 12L).union(Seq(20L, 21L, 30L)).toDF("id")

  /** Runs `body` with a fresh reliable checkpoint dir and asserts the
    * checkpoints really landed there — not in a dir an earlier test
    * installed on the shared context. */
  private def withReliableDir[A](body: => A): A = {
    val dir = Files.createTempDirectory("graft_ckpt_spec")
    spark.conf.set(Ckpt.DirKey, dir.toString)
    try {
      val out = body
      val installed = spark.sparkContext.getCheckpointDir.map(new Path(_))
      assert(installed.exists(_.getParent.toUri.getPath == dir.toString),
        s"checkpoints went to $installed, not under $dir")
      val written = Files.list(Paths.get(installed.get.toUri.getPath))
      try assert(written.iterator().asScala.exists(_.getFileName.toString.startsWith("rdd-")),
        s"nothing checkpointed under $installed")
      finally written.close()
      out
    } finally {
      spark.conf.unset(Ckpt.DirKey)
      val walk = Files.walk(dir)
      val paths = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      paths.foreach(p => Files.deleteIfExists(p))
    }
  }

  test("Ckpt.eager default path is localCheckpoint (no checkpoint dir needed)") {
    val out = Ckpt.eager(spark.range(5).toDF("id"))
    assert(out.collect().map(_.getLong(0)).sorted.sameElements(0L until 5L))
  }

  test("reliable path writes through graft.checkpoint.dir and reads back") {
    withReliableDir {
      val out = Ckpt.eager(spark.range(7).select(col("id"), (col("id") * 2).as("x")))
      assert(out.count() == 7)
    }
  }

  test("Ckpt.counted: one count materializes the checkpoint, local and reliable") {
    def check(): Unit = {
      val (out, n) = Ckpt.counted(spark.range(7).select(col("id"), (col("id") * 2).as("x")))
      val stored = Ckpt.stored(out)
      assert(n == 7)
      assert(stored.isCheckpointed, "the count did not materialize the checkpoint")
      assert(spark.sparkContext.getPersistentRDDs.contains(stored.id), "blocks not resident")
      val (xs, r) = ran(out.collect().map(_.getLong(1)).sorted.toSeq)
      assert(xs == (0L until 7L).map(_ * 2))
      assert(r.jobs == 1, s"reading the checkpoint ran $r")
      stored.unpersist(blocking = true)
    }
    check()
    withReliableDir(check())
  }

  test("StarContract output identical under local and reliable checkpointing") {
    val local = StarContract.run(edges, nodes, rounds = 4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val reliable = withReliableDir {
      StarContract.run(edges, nodes, rounds = 4)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    }
    assert(local.sameElements(reliable))
  }

  test("KCore output identical under local and reliable checkpointing") {
    val local = KCore.decompose(edges, "src", "dst", k = 2, rounds = 6)
      .orderBy("node").collect().toSeq
    val reliable = withReliableDir {
      KCore.decompose(edges, "src", "dst", k = 2, rounds = 6)
        .orderBy("node").collect().toSeq
    }
    assert(local == reliable)
  }
}
