package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.types.StructType

/** Inferred schemas of input files, kept for the life of the JVM and keyed
  * on file identity: the absolute path, its [[StagedMemo.fingerprint]]
  * (size and mtime of every file under the path), and a `variant` naming
  * every read option and session setting the inference depends on.
  *
  * Schema inference is a job per read (parquet footers, the CSV header
  * line), and the same inputs are read many times in one process: each
  * query build, each pipeline pass, the resolution report beside the
  * merge. Callers pass the memoized schema back with `.schema(...)`, which
  * skips the inference; the memoized object IS the inferred schema, so the
  * resulting frames are the same. A file rewritten in place changes its
  * fingerprint and is inferred again.
  */
object SchemaMemo {

  private val memo = new ConcurrentHashMap[(String, String, String), StructType]()

  /** The schema of `path` under `variant`, inferred by `infer` only when
    * this file identity has not been seen with this variant. */
  def apply(path: String, variant: String)(infer: => StructType): StructType = {
    val f = new java.io.File(path).getAbsoluteFile
    memo.computeIfAbsent((f.getPath, StagedMemo.fingerprint(f), variant), _ => infer)
  }
}
