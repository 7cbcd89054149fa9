package graft.streaming

import graft.operators.{Dedup, Retry, Validation}
import graft.schema.ProtoSchemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** The consume path (SURVEY §3.2) as one Structured Streaming pipeline:
  *
  *   decode -> validate (F3/F4) -> dedup (D1-D3) -> process -> route
  *   {processed | invalid->DLQ | failed->retry/DLQ (E1)}
  *
  * Reference: `service/BaseEventConsumer.java:53-105` — per-record
  * synchronous loop with Redis idempotency and manual ack. Spark-native
  * architecture:
  *
  *   - idempotency state lives *in* the engine:
  *     `withWatermark(ts, ttl).dropDuplicatesWithinWatermark(keys)` — RocksDB
  *     state store at scale, no per-record remote round-trip (W4). A
  *     duplicate within `ttl` of its key's first event time is always
  *     dropped. A key leaves state at the end of the first data batch
  *     whose watermark (the latest event time of the batches before it,
  *     minus `ttl`) passes `ts + ttl`, so a redelivery in that batch is
  *     still dropped and only a later one is admitted. The query runs no
  *     eviction-only micro-batches (see [[start]]): an idle stream keeps
  *     its last state until data arrives, and an `availableNow` run leaves
  *     the keys that expire in its last batch for the next run to evict;
  *   - the manual ack is the checkpoint commit: a micro-batch that fails
  *     reprocesses from the last committed offsets, and the idempotent
  *     dedup + deterministic routing make the replay recompute the same
  *     rows (delivery to the sinks: see below);
  *   - multi-sink fan-out (processed + DLQ + retry) happens inside one
  *     `foreachBatch`, and each micro-batch is computed ONCE: the batch
  *     `foreachBatch` hands over is a plan over the micro-batch RDD, so
  *     each of the three appends would re-run its post-shuffle half — the
  *     dedup state store's load, update and commit included. A
  *     `Caches.lazyBarrier` cuts that lineage; the first append
  *     materializes it, the other two read its blocks, and the batch body
  *     runs inside `Caches.scoped`, so exactly those blocks are released
  *     when it exits, success or not.
  *
  * Delivery across the three sinks is at-least-once, not exactly-once:
  * the appends are three separate writes, so a crash between two of them
  * replays the batch and re-appends the sinks that had already landed.
  * A lost local-checkpoint block (executor loss) fails the batch the same
  * way, and it replays from the streaming checkpoint.
  *
  * Dedup keys on the decoded event id as-is, so every empty-id event
  * shares one dedup key ("") and every poison pill shares another (null):
  * only the first of each class reaches the DLQ until that key's state
  * expires, so how many do depends on state-expiry timing. (The reference
  * validates before dedup and dead-letters each one.)
  *
  * The same column logic (Validation/Retry/Dedup operators) drives the
  * batch oracle queries — streaming and batch forms cannot drift.
  */
object ConsumePipeline {

  final case class Config(
      dedupTtl: String = "1 hour",     // reference idempotency TTL (W4)
      maxRetries: Int = Retry.MaxRetries,
      eventIdCol: String = "event_id_s",
      tsCol: String = "ts")

  /** Routed micro-batch: the three output branches of the consume loop. */
  final case class Routed(processed: DataFrame, dlq: DataFrame, retry: DataFrame)

  /** Splits one (already deduplicated) batch into processed / DLQ / retry,
    * mirroring BaseEventConsumer.onMessage's control flow:
    * invalid -> DLQ (E5); failed processing -> retry topic while
    * retry_count < max else DLQ (E1); rest -> processed.
    */
  def route(batch: DataFrame, cfg: Config = Config(),
            failurePredicate: org.apache.spark.sql.Column = lit(false)): Routed = {
    val valid = Validation.isValid(col(cfg.eventIdCol), col("props"))
    val invalid = batch.filter(!valid)
      .withColumn("route_topic", Retry.dlqTopic(col("topic")))
      .withColumn("error_message", lit("Invalid event"))
    val viable = batch.filter(valid).withColumn("failed", failurePredicate)
    val ok = viable.filter(!col("failed")).drop("failed")
    val (retryBranch, dlqExhausted) = Retry.split(viable.filter(col("failed")))
    val dlqAll = invalid.unionByName(
      dlqExhausted.withColumn("error_message", lit("Max retries exceeded"))
        .drop("failed"),
      allowMissingColumns = true)
    Routed(ok, dlqAll, retryBranch.drop("failed"))
  }

  /** Kafka-shaped (topic, value BINARY) records → the flat envelope frame
    * the pipeline operators key on, via the ONE-PASS wire decode of the
    * `ProtoSchemas.envelope` descriptor: event_id_s/ts/tenant/user/
    * priority/retry_count from the EventMetadata envelope, headers
    * surfaced as the JSON `props` payload. This is the §3.2 consume path
    * from RAW bytes up, matching the reference's deserialize-then-validate
    * order (`service/BaseEventConsumer.java:53-105`). proto3 presence
    * applies: an envelope without a `Timestamp` gets a null `ts`, which
    * no watermark drops, so the event reaches the sinks like any other
    * valid one. Compose with `KafkaIO.stripConfluentProtobufPrefix`
    * upstream for registry-framed values.
    */
  def fromWire(kafka: DataFrame): DataFrame = {
    graft.functions.Hashing.register(kafka.sparkSession)
    // the SAFE decode: corrupt bytes -> null struct -> null event_id /
    // props -> the invalid branch (DLQ) — one poison pill cannot kill the
    // stream (E7, the reference's ErrorHandlingDeserializer contract)
    kafka
      .withColumn("m", ProtoSchemas.decodeSafe(col("value"), ProtoSchemas.envelope)
        .getField("metadata"))
      .withColumn("event_id_s", col("m.event_id"))
      .withColumn("ts", col("m.timestamp"))
      .withColumn("correlation_id", col("m.correlation_id"))
      .withColumn("source_service", col("m.source_service"))
      .withColumn("tenant_id", col("m.tenant_id"))
      .withColumn("user_s", col("m.user_id"))
      .withColumn("priority", col("m.priority"))
      .withColumn("retry_count", col("m.retry_count"))
      .withColumn("props", to_json(col("m.headers")))
      .drop("m")
  }

  /** [[start]] from raw wire bytes: decode-once, then the standard
    * watermarked-dedup + route pipeline.
    */
  def startFromWire(kafka: DataFrame, outDir: String, cfg: Config = Config(),
                    failurePredicate: org.apache.spark.sql.Column = lit(false),
                    availableNow: Boolean = true): StreamingQuery =
    start(fromWire(kafka), outDir, cfg, failurePredicate, availableNow)

  /** Streaming form: watermarked dedup then per-micro-batch routing; each
    * branch lands as parquet under `outDir/{processed,dlq,retry}`.
    *
    * `availableNow = true` gives the bounded backfill/replay trigger
    * (Trigger.AvailableNow — the §3.3 replay job shape).
    *
    * The query runs with `spark.sql.streaming.noDataMicroBatches.enabled`
    * off. By default Spark follows every batch that moves the watermark
    * with a batch of no input, only to evict expired state; the dedup
    * emits no rows on eviction, so that batch would cost three empty
    * appends, a barrier and a state and log version for nothing. Expired
    * keys leave state at the end of the next data batch instead (see the
    * object doc). `StreamExecution` clones the session when it is built,
    * so the setting is scoped to `start()`: the caller's value is restored
    * (or unset) when it returns or throws.
    */
  def start(envelopedStream: DataFrame, outDir: String, cfg: Config = Config(),
            failurePredicate: org.apache.spark.sql.Column = lit(false),
            availableNow: Boolean = true): StreamingQuery = {
    val deduped = envelopedStream
      .withWatermark(cfg.tsCol, cfg.dedupTtl)
      .dropDuplicatesWithinWatermark(cfg.eventIdCol)
    val writer: DataStreamWriter[Row] = deduped.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one lineage cut per micro-batch (see the object doc)
        graft.Caches.scoped {
          val routed = route(graft.Caches.lazyBarrier(batch), cfg, failurePredicate)
          routed.processed.write.mode("append").parquet(s"$outDir/processed")
          routed.dlq.write.mode("append").parquet(s"$outDir/dlq")
          routed.retry.write.mode("append").parquet(s"$outDir/retry")
        }
      }
    val conf = envelopedStream.sparkSession.conf
    val before = conf.getAll.get(NoDataBatches)
    conf.set(NoDataBatches, "false")
    try (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
    finally before.fold(conf.unset(NoDataBatches))(conf.set(NoDataBatches, _))
  }

  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"
}
