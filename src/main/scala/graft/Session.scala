package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Every entry point (Bench,
  * Verify, ScaleCurve, StreamingCurve, the tools) and the spec suite run
  * on the conf that oracle equality depends on:
  *
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - UTC session time zone, so timestamp buckets match DuckDB's;
  *  - `nanosAsLong`, so nanosecond `events.ts` reads as INT64 (see
  *    `sources.Tables.normalizeEventTs`);
  *  - the UI off;
  *  - the native functions registered ([[functions.Hashing.register]] is
  *    idempotent per session).
  *
  * Callers pass only the settings that differ, as `conf` pairs.
  */
object Session {
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    functions.Hashing.register(spark)
    spark
  }
}
