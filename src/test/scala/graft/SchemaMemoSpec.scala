package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.ingest.Sources

/** Input schemas are inferred once per file identity: a second read of an
  * unchanged file runs no job, and a file rewritten at the same path is
  * inferred again.
  */
class SchemaMemoSpec extends SparkSpecBase {

  private def csv(text: String): java.nio.file.Path = {
    val f = Files.createTempFile("graft_schema_memo", ".csv")
    Files.write(f, text.getBytes(UTF_8))
    f.toFile.deleteOnExit()
    f
  }

  test("a second loadTable of an unchanged CSV runs no Spark job") {
    val f = csv("url,clicks\nhttps://a.example/x,3\nhttps://a.example/y,4\n")
    val (first, firstRan) = ran(Sources.loadTable(spark, f.toString))
    assert(firstRan.jobs >= 1, "the first read infers the header")
    val (second, secondRan) = ran(Sources.loadTable(spark, f.toString))
    assert(secondRan.jobs == 0)
    assert(second.schema == first.schema)
    assert(second.collect().map(_.getString(1)).toSeq == Seq("3", "4"))
  }

  test("a CSV rewritten at the same path with a changed header is inferred again") {
    val f = csv("url,clicks\nhttps://a.example/x,3\n")
    assert(Sources.loadTable(spark, f.toString).columns.toSeq == Seq("url", "clicks"))
    Files.write(f, "Address,Clicks,Impressions\nhttps://a.example/x,3,90\n".getBytes(UTF_8))
    val (again, againRan) = ran(Sources.loadTable(spark, f.toString))
    assert(againRan.jobs >= 1)
    assert(again.columns.toSeq == Seq("Address", "Clicks", "Impressions"))
    assert(again.collect().map(_.getString(2)).toSeq == Seq("90"))
  }
}
