package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table loaders over the driver-generated parquet at
  * `/root/testdata/sf*` (see TESTDATA.md / FIXTURES.md).
  *
  * The `events` table's `ts` encoding has varied across fixture
  * generations and must be normalized to a session-timezone TIMESTAMP at
  * the single ingestion point here:
  *
  *   - nanosecond INT64 (TIMESTAMP_NS): Spark refuses it by default
  *     (`PARQUET_TYPE_ILLEGAL`); we read raw nanos
  *     (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to
  *     microseconds — the exact semantics DuckDB applies coercing
  *     TIMESTAMP_NS to its microsecond TIMESTAMP, so oracles agree.
  *     Integer division (`div`) is mandatory: nano values (~1.7e18)
  *     exceed 2^53, so a double-typed `/ 1000` would lose precision.
  *   - TIMESTAMP_MICROS with isAdjustedToUTC=false: Spark 4 infers
  *     TIMESTAMP_NTZ; we cast to TimestampType. The harness pins the
  *     session timezone to UTC, so the cast is value-preserving and
  *     matches DuckDB's naive-TIMESTAMP comparison semantics.
  *   - TIMESTAMP_MICROS adjusted to UTC: already TimestampType,
  *     passthrough.
  */
object Tables {

  /** Resolve the parquet relation ONCE per (session, dir, table) and
    * reuse the DataFrame (an immutable lazy plan) for every later build.
    *
    * `spark.read.parquet` re-lists the path and re-reads parquet footers
    * for schema inference on EVERY call — measured 59 ms of driver time
    * per call at sf0.1 (OPTIMIZATION_r13.md §1), paid inside the timed
    * region of every bench run of every query. Reusing the resolved
    * relation is metadata caching only: no rows are persisted, every
    * action still computes from the parquet files. This is the
    * session-scale analog of resolving tables through a catalog/manifest
    * instead of re-listing the filesystem per query (optimization guide
    * §6); fixture dirs are immutable for the life of a session, so the
    * cached listing cannot go stale here (a mutable production table
    * would resolve through a real catalog instead).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Caches.sessionMemo(spark, s"tables:$dir/$name")(
      spark.read.parquet(s"$dir/$name.parquet"))

  /** Normalizes the `ts` column to a microsecond TIMESTAMP regardless of
    * fixture encoding: raw-nanos LONG (nanosAsLong read) is truncated to
    * micros; TIMESTAMP_NTZ is cast (value-preserving under the pinned UTC
    * session timezone); TIMESTAMP passes through.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** `events` with `ts` normalized to a microsecond TIMESTAMP. */
  def events(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.sessionMemo(spark, s"tables:$dir/events(normalized)") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
    }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
