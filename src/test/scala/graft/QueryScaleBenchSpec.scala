package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

/** The 10× rung [[QueryScaleBench.stageRung]] writes, staged from sf0.001:
  * every table of the source dir, the relational tables at ten times the
  * rows with their foreign keys still joining within each replica.
  */
class QueryScaleBenchSpec extends SparkSpecBase with BeforeAndAfterAll {

  private val src = "/root/testdata/sf0.001"
  private val dir = Files.createTempDirectory("graft_rung_spec").toFile
  private lazy val rung: File = {
    QueryScaleBench.stageRung(spark, src, dir.toString)
    dir
  }

  override def afterAll(): Unit = {
    FileUtils.deleteDirectory(dir)
    super.afterAll()
  }

  private def rows(dir: String, t: String): Long = spark.read.parquet(s"$dir/$t.parquet").count()

  test("the rung holds every table of its source dir") {
    val tables = new File(src).list().filter(_.endsWith(".parquet")).sorted.toSeq
    assert(tables.size == 10)
    assert(rung.list().filter(_.endsWith(".parquet")).sorted.toSeq == tables)
    assert(rows(rung.toString, "nation") == rows(src, "nation"))
    assert(rows(rung.toString, "documents") == 10 * rows(src, "documents"))
  }

  test("lineitem and orders hold 10x the source rows") {
    for (t <- Seq("lineitem", "orders"))
      assert(rows(rung.toString, t) == 10 * rows(src, t), t)
  }

  test("an orders-lineitem join keeps 10x its matches") {
    def matches(dir: String): Long =
      spark.read.parquet(s"$dir/orders.parquet")
        .join(spark.read.parquet(s"$dir/lineitem.parquet"), col("o_orderkey") === col("l_orderkey"))
        .count()
    val lo = matches(src)
    assert(lo > 0 && matches(rung.toString) == 10 * lo)
  }
}
