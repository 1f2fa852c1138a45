package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Testdata table access. One parquet file per table under the sf dir
  * (see /root/repo/TESTDATA.md). All reads go through here so scans stay
  * uniform (vectorized parquet reader, pushdown-friendly).
  *
  * Event-time contract: `events.ts` surfaces from this object as LONG
  * nanoseconds-since-epoch, whatever the parquet physical encoding is.
  * Generators have shipped the column as TIMESTAMP(NANOS) (readable only
  * under `spark.sql.legacy.parquet.nanosAsLong=true`, where it arrives as
  * LONG nanos already), TIMESTAMP(MICROS) (Spark TIMESTAMP_NTZ /
  * TIMESTAMP), and raw INT64 nanos; [[toLongNanos]] folds all of them to
  * the canonical LONG-nanos column in one projection at the scan, so no
  * query carries encoding branches. Queries do exact integer time math on
  * it (no double round-trips — ns magnitudes exceed 2^53). Convert via
  * `timestamp_micros(col("ts") div 1000)` only where real timestamp
  * semantics are needed (streaming windows). Sessions keep
  * `nanosAsLong=true` AND pin `spark.sql.session.timeZone=UTC` (the NTZ →
  * instant cast below uses the session zone).
  */
object Tables {

  /** Parquet schemas come from [[SchemaMemo]]. A bare
    * `spark.read.parquet(path)` measured ~98 ms per call at sf0.1
    * (OPTIMIZATION_r19.md, "Sub-second fleet fixed cost"), almost all of it
    * footer reads for schema inference, and the bench re-builds every
    * query's frame per sample. The key carries the file's identity (a
    * regenerated table is inferred again) and `nanosAsLong`, which decides
    * whether a TIMESTAMP(NANOS) column reads as LONG or fails. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val nanosAsLong = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    val sch = SchemaMemo(path, s"parquet nanosAsLong=$nanosAsLong")(spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** Fold any supported event-time encoding of column `c` to canonical
    * LONG nanos-since-epoch, preserving column order. LONG passes through
    * untouched (the nanos-as-long legacy path); TIMESTAMP / TIMESTAMP_NTZ
    * (µs precision) convert exactly via integer µs × 1000. Anything else
    * fails fast — silent reinterpretation of event time is worse than an
    * error at 100 TB.
    */
  def toLongNanos(df: DataFrame, c: String = "ts"): DataFrame =
    df.schema(c).dataType match {
      case LongType => df
      case TimestampType | TimestampNTZType =>
        df.withColumn(c, nanosFrom(col(c)))
      case other: DataType =>
        throw new IllegalArgumentException(
          s"unsupported event-time encoding for column '$c': $other " +
            "(expected LONG nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }

  /** TIMESTAMP/TIMESTAMP_NTZ column → LONG nanos. NTZ wall time binds to
    * an instant through the session time zone (pinned UTC everywhere).
    */
  private def nanosFrom(c: Column): Column =
    unix_micros(c.cast(TimestampType)) * lit(1000L)

  def lineitem(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame =
    toLongNanos(t(spark, dir, "events"))
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}
