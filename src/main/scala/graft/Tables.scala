package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * One normalization is applied at load: `events.ts` arrives in either
  * of two physical encodings depending on the generator version —
  * parquet INT64 TIMESTAMP(NANOS), which Spark cannot map to its
  * microsecond TimestampType directly (read via the `nanosAsLong`
  * escape hatch and truncated to microseconds), or TIMESTAMP(MICROS)
  * with isAdjustedToUTC=false (NTZ, surfaced by Spark as
  * TimestampNTZType and re-anchored in the session time zone) — and
  * `events()` normalizes both to a proper session-TZ TimestampType
  * column, which matches what every downstream second-granularity
  * computation needs.
  *
  * All loaders are plain `spark.read.parquet` — Catalyst handles column
  * pruning / predicate pushdown into the scan, so callers should filter
  * and select on the returned DataFrame and trust pushdown (PlanSpec
  * asserts PushedFilters/ReadSchema on a representative plan).
  *
  * Session invariant: `spark.sql.legacy.parquet.nanosAsLong=true` must be
  * set at SparkSession build time ([[Session.builder]] does); the
  * `events` loader also sets it defensively before the first scan.
  */
object Tables {
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** events.ts arrives as INT64 TIMESTAMP(NANOS) or NTZ
    * TIMESTAMP(MICROS); expose either as session-TZ TimestampType. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Spark has no nanosecond timestamp type; without this conf the scan
    // fails on TIMESTAMP(NANOS) columns. Runtime-settable SQL conf.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    // Normalize whatever physical type the generator wrote to session-TZ
    // TimestampType, which the whole engine (unix_micros, watermarks,
    // window()) is written against:
    //  - INT64 TIMESTAMP(NANOS) + nanosAsLong → LongType nanos, truncated
    //    to microseconds;
    //  - TIMESTAMP(MICROS) with isAdjustedToUTC=false → TimestampNTZType
    //    under Spark's NTZ inference; cast reinterprets the wall-clock
    //    value in the session time zone (pinned to UTC by every entry
    //    point), i.e. the same instant DuckDB's naive timestamp denotes.
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(floorDiv1000(col("ts"))))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Floor-division by 1000 for Long nanos→micros (negative-safe; plain
    * integer `/` in Spark truncates toward zero which would round
    * pre-1970 timestamps the wrong way). */
  private def floorDiv1000(c: org.apache.spark.sql.Column) =
    floor(c.cast("decimal(24,4)") / lit(1000)).cast("long")

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
