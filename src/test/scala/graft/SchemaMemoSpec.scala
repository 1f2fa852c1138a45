package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.ingest.Sources

/** Input schemas are inferred once per file identity: a second read of an
  * unchanged file runs no job, and a file rewritten at the same path is
  * inferred again.
  */
class SchemaMemoSpec extends SparkSpecBase {

  private val Tag = "graft.spec.schemaMemo"

  /** Jobs `body` submits from this thread. A sentinel job submitted after
    * it is seen last by the (ordered) listener bus, so every job of `body`
    * has been counted once the sentinel arrives. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val run = java.util.UUID.randomUUID().toString
    val counted = new AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Tag)) match {
          case Some(`run`) => counted.incrementAndGet()
          case Some(s) if s == s"$run-end" => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, run)
      val out = body
      sc.setLocalProperty(Tag, s"$run-end")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      (out, counted.get)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  private def csv(text: String): java.nio.file.Path = {
    val f = Files.createTempFile("graft_schema_memo", ".csv")
    Files.write(f, text.getBytes(UTF_8))
    f.toFile.deleteOnExit()
    f
  }

  test("a second loadTable of an unchanged CSV runs no Spark job") {
    val f = csv("url,clicks\nhttps://a.example/x,3\nhttps://a.example/y,4\n")
    val (first, firstJobs) = jobsOf(Sources.loadTable(spark, f.toString))
    assert(firstJobs >= 1, "the first read infers the header")
    val (second, secondJobs) = jobsOf(Sources.loadTable(spark, f.toString))
    assert(secondJobs == 0)
    assert(second.schema == first.schema)
    assert(second.collect().map(_.getString(1)).toSeq == Seq("3", "4"))
  }

  test("a CSV rewritten at the same path with a changed header is inferred again") {
    val f = csv("url,clicks\nhttps://a.example/x,3\n")
    assert(Sources.loadTable(spark, f.toString).columns.toSeq == Seq("url", "clicks"))
    Files.write(f, "Address,Clicks,Impressions\nhttps://a.example/x,3,90\n".getBytes(UTF_8))
    val (again, jobs) = jobsOf(Sources.loadTable(spark, f.toString))
    assert(jobs >= 1)
    assert(again.columns.toSeq == Seq("Address", "Clicks", "Impressions"))
    assert(again.collect().map(_.getString(2)).toSeq == Seq("90"))
  }
}
