package graft.streaming

import graft.operators.Envelope
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The replay path (SURVEY §3.3) as a bounded, restartable streaming job:
  * `Trigger.AvailableNow` drains everything currently in the source and
  * stops — the reference's hand-rolled poll-until-end loop
  * (`service/EventReplayService.java:92-131`) becomes a checkpointed query
  * that can resume mid-replay after a crash.
  *
  * Offline the source is a file stream over the fixture layout (one parquet
  * dir per "topic"); on a cluster the same job runs against the Kafka
  * source via `io/KafkaIO.replayByTimestamp` options.
  */
object ReplayJob {

  final case class Config(
      fromTs: java.sql.Timestamp,
      toTs: java.sql.Timestamp,
      targetSuffix: String = ".replay",
      filter: org.apache.spark.sql.Column = lit(true))   // F5 user hook

  /** Streams `sourceDir` (parquet, `schema`) through the time-bound (F6) +
    * user filter (F5), stamps the S10 replay projection, and appends to
    * `outDir/replayed` until the source is drained. The output is
    * exactly-once: the parquet file sink commits each batch to its
    * `_spark_metadata` log and skips a batch that log already holds, so a
    * restart that replays a batch whose checkpoint commit was lost does
    * not append it twice.
    */
  def start(spark: SparkSession, sourceDir: String, schema: StructType,
            outDir: String, cfg: Config): StreamingQuery = {
    val src = graft.sources.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(sourceDir))
    val enveloped = Envelope.withEnvelope(src)
    enveloped
      .filter(col("ts").between(lit(cfg.fromTs), lit(cfg.toTs)))
      .filter(cfg.filter)
      .withColumn("replay_target", concat(col("topic"), lit(cfg.targetSuffix)))
      .withColumn("replay_original_offset", col("event_id"))
      .writeStream
      .format("parquet")
      .option("path", s"$outDir/replayed")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
