package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver test data (TESTDATA.md).
  * All operators read via these; the path layout is `$sfDir/<name>.parquet`.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The driver fixture's `events.ts` has drifted across rounds:
    * parquet TIMESTAMP(NANOS) (readable only as a raw long under
    * `nanosAsLong`, which `Sessions.build` sets), and currently parquet
    * `timestamp[us]` with no timezone → Spark `TIMESTAMP_NTZ`, which
    * reads the same with or without that key. Normalize every variant to
    * the same surface: `ts` as a session-tz `TIMESTAMP` plus a derived
    * `ts_ns` epoch-nanos long, so downstream operators are
    * fixture-agnostic.
    *
    * The session timezone is pinned to UTC in every entrypoint, so the
    * NTZ→TIMESTAMP cast is an exact instant-preserving conversion.
    * Time-range operators filter on `ts` with timestamp literals:
    * Catalyst unwraps the monotonic NTZ→TIMESTAMP cast in binary
    * comparisons, so those predicates reach the parquet scan as
    * `PushedFilters: [LessThan(ts,...)]` (audited in ChangelogSpec and
    * EventsFixtureSpec). Predicates on the derived `ts_ns` do NOT push
    * down under the NTZ fixture — don't filter on it in hot paths. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType => // legacy ns-as-long fixture (µs-aligned, verified)
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampNTZType => // current fixture: parquet timestamp[us], no tz
        raw.withColumn("ts_ns", unix_micros(col("ts").cast(TimestampType)) * 1000L)
          .withColumn("ts", col("ts").cast(TimestampType))
      case _ => // tz-aware µs timestamp: already the target surface
        raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "region")
  def part(spark: SparkSession, sfDir: String): DataFrame       = table(spark, sfDir, "part")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
