package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, UTC, small shuffle). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session

  /** `body`'s result and what it ran from this thread ([[GraftSession.ran]]). */
  def ran[A](body: => A): (A, GraftSession.Ran) = GraftSession.ran(spark)(body)
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
