package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM-lifetime disk-staged memo for DATA-PROPORTIONAL shared frames
  * (round-17; generalizes ExtensionQueries9's PPJoin staging).
  *
  * Two memo disciplines coexist in this engine:
  *  - plan-constant frames (q42's ≤90-row cluster fixture) hold COLLECTED
  *    rows and replay a LocalRelation — safe because the bound is a
  *    property of the plan, not the data;
  *  - data-proportional frames (the t=0.5 PPJoin pair set, the image
  *    dup-cluster labels) must NEVER be driver-collected. This memo
  *    stages them as write-once parquet in a JVM temp dir — the exact
  *    materialize-to-distributed-storage shape a 1000-executor run would
  *    use for a frame shared by several downstream jobs — and consumers
  *    scan the files.
  *
  * Staleness (round-18, verdict task #8 / round-17 ADVICE): keys carry a
  * CONTENT FINGERPRINT of the corpus path — the sorted (relative name,
  * size, mtime-millis) list of every file under it, hashed — not the
  * bare directory mtime. A Spark overwrite rewrites part files under
  * fresh random names, so an in-place corpus rewrite misses the memo
  * even when the directory entry's second-granularity mtime never ticks
  * (StagedMemoSpec pins exactly that scenario with mtimes frozen). The
  * fingerprint deliberately stops short of hashing file BYTES: a rewrite
  * that reproduces identical names, sizes, and mtimes is
  * indistinguishable from no rewrite at file-metadata level, and
  * [[invalidate]] remains the hook for that pathological case. Entries
  * are immune to cache/persisted-RDD sweeps (Bench's release() never
  * touches files); the temp root deletes itself on JVM exit.
  *
  * Accounting (round-18, verdict task #2): [[stage]] times each build's
  * write and accumulates it per family — Bench emits the map as
  * `staging_sec` so the generator cost the memo amortizes is a reported
  * figure, not a residue hidden in somebody's discarded cold sample.
  */
object StagedMemo {

  /** (family, dir, fingerprint, variant) → staged parquet path */
  private val memo =
    scala.collection.concurrent.TrieMap[(String, String, String, String), String]()

  /** family → cumulative seconds spent building+writing staged frames
    * in this JVM (0 for a family that only ever replayed). */
  private val stagingSec =
    scala.collection.concurrent.TrieMap[String, Double]()

  /** Cumulative per-family staging cost, for the bench artifact. */
  def stagingSeconds: Map[String, Double] = stagingSec.toMap

  /** Content fingerprint of a corpus file or directory: sorted
    * (relative-path, size, mtime-ms) triples, hashed. Missing path
    * fingerprints to a constant (the memo then keys on path identity
    * alone — same behavior as the old missing-file mtime 0). */
  def fingerprint(root: java.io.File): String = {
    def walk(f: java.io.File, rel: String): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .sortBy(_.getName)
          .flatMap(c => walk(c, s"$rel/${c.getName}"))
      else Seq(s"$rel:${f.length()}:${f.lastModified()}")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    walk(root, "").foreach { line =>
      md.update(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_staged_memo")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      try {
        val walk = java.nio.file.Files.walk(p)
        val paths = try walk.iterator().asScala.toSeq.reverse finally walk.close()
        paths.foreach(q => java.nio.file.Files.deleteIfExists(q))
      } catch { case _: Throwable => }
    }))
    p
  }

  /** First caller per key computes `build` and stages it; everyone else
    * (and every repeat run) scans the staged parquet. `mtimeFile` is the
    * corpus file (relative to `dir`) whose content fingerprint keys
    * staleness.
    */
  def stage(s: SparkSession, family: String, dir: String, mtimeFile: String,
      variant: String = "")(build: => DataFrame): DataFrame = {
    val fp = fingerprint(new java.io.File(dir, mtimeFile))
    val path = memo.getOrElseUpdate((family, dir, fp, variant), {
      val p = java.nio.file.Files.createTempDirectory(root, family)
        .resolve("data").toString
      val t0 = System.nanoTime()
      build.write.mode("overwrite").parquet(p)
      val sec = (System.nanoTime() - t0) / 1e9
      stagingSec.updateWith(family) {
        case Some(prev) => Some(prev + sec)
        case None => Some(sec)
      }
      p
    })
    s.read.parquet(path)
  }

  /** Drop every staged entry (all families/dirs). */
  def invalidate(): Unit = memo.clear()
}
