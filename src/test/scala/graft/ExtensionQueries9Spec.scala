package graft

import org.apache.spark.sql.functions._
import graft.ext.SetSimJoin
import graft.ops.KCore
import graft.queries.ExtensionQueries9

/** Property pins for the round-6 third batch (cross-engine equality is
  * the DuckDB oracle's job — these assert operator SEMANTICS).
  */
class ExtensionQueries9Spec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.01"
  private val sfTiny = "/root/testdata/sf0.001"

  // --------------------------------------------------------- q107 KCore

  test("q107: hand graph — K4 core survives, peels cascade round by round") {
    import spark.implicits._
    // K4 on {1,2,3,4} + node 5 hanging off 4 with two leaves 6,7:
    // round 1 peels the leaves (deg 1); that drops 5 to deg 1 → round 2;
    // K4 survives with in-core degree 3 (node 4 loses only the 4-5 edge).
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (5L, 7L)).toDF("a", "b")
    val r = KCore.decompose(edges, "a", "b", 3, 5).orderBy("node").collect()
    val by = r.map(x => x.getAs[Long]("node") ->
      ((x.getAs[Int]("peel_round"), x.getAs[Boolean]("in_core"), x.getAs[Long]("core_deg")))).toMap
    assert(by(6L) == ((1, false, 0L)))
    assert(by(7L) == ((1, false, 0L)))
    assert(by(5L) == ((2, false, 0L)), s"node 5 must peel only after its leaves: ${by(5L)}")
    for (n <- 1L to 4L) assert(by(n) == ((0, true, 3L)), s"node $n: ${by(n)}")
    assert(r.forall(_.getAs[Boolean]("converged")))
  }

  test("q107: every core member has core_deg >= k; converged on the corpus") {
    val r = ExtensionQueries9.q107_kcore(spark, sf)
    val rows = r.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("converged")),
      s"${ExtensionQueries9.CoreRounds} rounds must reach the fixpoint")
    val core = rows.filter(_.getAs[Boolean]("in_core"))
    assert(core.nonEmpty, "sf0.01 co-purchase graph should have a 3-core")
    assert(core.forall(_.getAs[Long]("core_deg") >= 3L),
      "k-core property: every member keeps >= k in-core neighbors")
    assert(rows.filter(!_.getAs[Boolean]("in_core")).forall(_.getAs[Int]("peel_round") >= 1))
  }

  // --------------------------------------------- q108 streaming count-min

  test("q108: windowed CMS cells from real micro-batches equal the batch build") {
    import java.nio.file.Files
    import graft.streaming.StreamOps
    val ev = graft.core.Tables.events(spark, sfTiny).orderBy("event_id")
    val n = ev.count()
    val dir = Files.createTempDirectory("graft_stream_cms")
    val src = dir.resolve("src"); Files.createDirectory(src)
    // 3 files → 3 micro-batches with maxFilesPerTrigger=1
    ev.limit((n / 3).toInt).coalesce(1)
      .write.parquet(dir.resolve("p1").toString)
    ev.offset((n / 3).toInt).limit((n / 3).toInt).coalesce(1)
      .write.parquet(dir.resolve("p2").toString)
    ev.offset(2 * (n / 3).toInt).coalesce(1)
      .write.parquet(dir.resolve("p3").toString)
    var i = 0
    for (p <- Seq("p1", "p2", "p3")) {
      import scala.jdk.CollectionConverters._
      Files.list(dir.resolve(p)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).foreach { f =>
          Files.copy(f, src.resolve(s"part_$i.parquet")); i += 1
        }
    }
    val stream = spark.readStream.schema(StreamOps.EventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = StreamOps.windowedCountMin(stream, "6 hours", "30 minutes", 4, 64)
      .writeStream.format("memory").queryName("cms_cells")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("cms_cells")
      .orderBy("window_start", "row", "bucket").collect().toSeq
    val batch = StreamOps.windowedCountMin(
        graft.core.Tables.events(spark, sfTiny), "6 hours", "30 minutes", 4, 64)
      .orderBy("window_start", "row", "bucket").collect().toSeq
    assert(streamed == batch, s"${streamed.size} streamed cells vs ${batch.size} batch")
    // state bound: per window at most d*w cells
    val perWin = spark.table("cms_cells").groupBy("window_start").count().collect()
    assert(perWin.forall(_.getAs[Long]("count") <= 4L * 64L))
  }

  // ----------------------------------------------------- q109 SetSimJoin

  test("q109: prefix-filtered join equals the naive full-index join (completeness)") {
    val d = graft.core.Tables.documents(spark, sfTiny)
    val toks = split(col("text"), " ")
    val shingles = d.filter(size(toks) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(toks) - 3),
          i => array_join(slice(toks, i + 1, lit(3)), " "))).as("sh"))
    val pref = SetSimJoin.jaccardJoin(shingles, "doc_id", "sh", 600000L)
      .orderBy("id_a", "id_b").collect().toSeq
    // naive: index EVERY shingle, same verify
    val tok = shingles.select(col("doc_id").as("__id"), col("sh").as("tok")).distinct()
    val sizes = tok.groupBy("__id").agg(count(lit(1)).as("s"))
    val naive = tok.as("a").join(tok.as("b"),
        col("a.tok") === col("b.tok") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("__id").as("id_a"), col("s").as("sa")), "id_a")
      .join(sizes.select(col("__id").as("id_b"), col("s").as("sb")), "id_b")
      .withColumn("union_sz", col("sa") + col("sb") - col("inter"))
      .filter(col("inter") * 1000000L >= col("union_sz") * 600000L)
      .select(col("id_a"), col("id_b"), col("inter"), col("union_sz"),
        expr("inter * 1000000L div union_sz").as("jacc_ppm"))
      .orderBy("id_a", "id_b").collect().toSeq
    assert(pref == naive, s"prefix filter must lose no qualifying pair: ${pref.size} vs ${naive.size}")
  }

  test("q109: prefix filter indexes strictly fewer elements than the full index") {
    import spark.implicits._
    // a planted near-dup pair + unrelated docs
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"),
      (3L, "z y x w v u t s r q")
    ).toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val sh = docs.select(col("doc_id"),
      explode(transform(sequence(lit(0), size(toks) - 3),
        i => array_join(slice(toks, i + 1, lit(3)), " "))).as("sh"))
    val out = SetSimJoin.jaccardJoin(sh, "doc_id", "sh", 600000L).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    // 8 shingles each, 7 shared: J = 7/9
    assert(r.getAs[Long]("inter") == 7L && r.getAs[Long]("union_sz") == 9L)
    assert(r.getAs[Long]("jacc_ppm") == 777777L)
  }
}
