package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.bench.History

/** Bench's fresh-JVM confirmation, both ends. [[fork]] re-runs the named
  * queries in ONE forked JVM (same classpath, JVM flags, sf and cpus): a
  * fresh process escapes both the aged JVM and the in-run contention window.
  * The child, `MoverConfirm <outFile> <queryName>...`, gives each query one
  * discarded cold warmup (codegen/footers/JIT), then n=3 released samples,
  * and writes one JSON object {"name":[min,median,max],...} to outFile. A
  * query that crashes records [-1,-1,-1] (the parent treats it as
  * unconfirmed) without aborting the rest.
  */
object MoverConfirm {

  /** Wall cap on the fork: the per-query budget alone reaches 42 min at 20
    * movers + 8 band members. A fork that cannot finish inside it leaves
    * its movers "unconfirmed". */
  val FreshJvmWallCapSec = 900L

  def main(args: Array[String]): Unit = {
    val usage = "usage: SPARK_GRAFT_SF_DIR=<dir> MoverConfirm <outFile> <queryName>..."
    require(args.nonEmpty, usage)
    val outFile = args.head
    val names = args.tail.toSeq
    // always set by [[fork]], which passes on the parent's sf dir
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error(usage))
    val spark = GraftSession.local()
    val results = names.map { n =>
      n -> (try {
        GraftSession.release(spark)
        GraftSession.runQuery(spark, n, sfDir) // discarded cold warmup
        GraftSession.stats(GraftSession.timedSamples(spark, 3)(GraftSession.runQuery(spark, n, sfDir)))
      } catch { case _: Throwable => (-1.0, -1.0, -1.0) })
    }
    val body = results.map { case (k, (a, b, c)) =>
      f""""$k":[$a%.4f,$b%.4f,$c%.4f]"""
    }.mkString("{", ",", "}")
    Files.write(Paths.get(outFile), body.getBytes(UTF_8))
    spark.stop()
  }

  /** Each query's (min, median, max) from the forked child; empty on any
    * failure (spawn, timeout, unparseable output): confirmation is
    * evidence, never a reason to abort the sweep.
    */
  def fork(names: Seq[String], sfDir: String, cpus: Int): Map[String, (Double, Double, Double)] = {
    if (names.isEmpty) return Map.empty
    var outFile: Path = null
    var errFile: Path = null
    // the child's stderr goes to a temp log whose tail is printed on every failure path
    def errTail(): String =
      if (errFile == null) "<no stderr captured>"
      else try {
        val s = new String(Files.readAllBytes(errFile), UTF_8)
        s.substring(math.max(0, s.length - 2000))
      } catch { case _: Throwable => "<stderr unreadable>" }
    try {
      import scala.jdk.CollectionConverters._
      outFile = Files.createTempFile("graft_mover_confirm", ".json")
      errFile = Files.createTempFile("graft_mover_confirm", ".err")
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      // this process's JVM args verbatim: the --add-opens flags and their
      // values arrive as separate elements, so a prefix filter would unpair them
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
      val cp = System.getProperty("java.class.path")
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", cp, "graft.MoverConfirm", outFile.toString) ++ names
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
      // results travel through outFile
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectError(errFile.toFile)
      val proc = pb.start()
      val done = proc.waitFor(math.min(120L + 90L * names.size, FreshJvmWallCapSec),
        java.util.concurrent.TimeUnit.SECONDS)
      if (!done) {
        proc.destroyForcibly()
        System.err.println("[bench] mover confirmation TIMED OUT - movers stay unconfirmed; child stderr tail:\n" + errTail())
        return Map.empty
      }
      if (proc.exitValue() != 0)
        System.err.println(s"[bench] mover confirmation child exited ${proc.exitValue()}; stderr tail:\n" + errTail())
      History.readSpreads(outFile.toString).getOrElse {
        System.err.println("[bench] mover confirmation output unparseable; child stderr tail:\n" + errTail())
        Map.empty
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] mover confirmation FAILED: $e; child stderr tail:\n" + errTail())
      Map.empty
    } finally Seq(outFile, errFile).filter(_ != null)
      .foreach(f => try Files.deleteIfExists(f) catch { case _: Throwable => })
  }
}
