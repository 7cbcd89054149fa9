package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kafka source/sink plumbing (SURVEY §2.1 S1-S10) — option-complete
  * builders over Spark's `format("kafka")` connector.
  *
  * Requires `spark-sql-kafka-0-10` on the cluster classpath (not present in
  * this offline container — these builders compile and are unit-tested for
  * option construction; integration runs only where a broker exists, per
  * SURVEY §7.5.6). The fixture-backed pipelines (`graft.streaming`,
  * `graft.queries`) exercise the same operator logic offline.
  */
object KafkaIO {

  /** S6 streaming source: subscribe with the reference's consumer posture —
    * read_committed isolation (`config/KafkaConfig.java:120`) and bounded
    * per-trigger intake (max.poll.records 500 ≙ maxOffsetsPerTrigger).
    */
  def source(spark: SparkSession, bootstrap: String, topics: Seq[String],
             maxOffsetsPerTrigger: Long = 500L): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics.mkString(","))
      .option("kafka.isolation.level", "read_committed")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .option("startingOffsets", "earliest")
      .load()

  /** S7 replay source: time-bounded batch read — Spark resolves the offsets
    * (the reference's offsetsForTimes + seek loop,
    * `service/EventReplayService.java:62-88`, collapses into two options).
    */
  def replayByTimestamp(spark: SparkSession, bootstrap: String, topic: String,
                        fromMs: Long, toMs: Long): DataFrame =
    spark.read.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingTimestamp", fromMs)
      .option("endingTimestamp", toMs)
      .load()

  /** S8 replay source: offset-bounded single-partition batch read. */
  def replayByOffset(spark: SparkSession, bootstrap: String, topic: String,
                     partition: Int, fromOffset: Long, toOffset: Long): DataFrame =
    spark.read.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("assign", s"""{"$topic":[$partition]}""")
      .option("startingOffsets", s"""{"$topic":{"$partition":$fromOffset}}""")
      .option("endingOffsets", s"""{"$topic":{"$partition":${toOffset + 1}}}""")
      .load()

  /** S1/S4 sink posture: the reference's full producer configuration
    * (`config/KafkaConfig.java:69-88`), option for option — acks=all,
    * idempotence, 3 retries, snappy, 16 KiB batches, 10 ms linger, 5
    * in-flight (serializer classes stay Spark-side: the value column
    * carries the already-encoded wire bytes). Batch write: `.save()`;
    * streaming: swap `write` for `writeStream`. KafkaWireSpec pins this
    * map exactly, so a drifted option is a test failure, not a silent
    * posture change.
    */
  def sinkOptions(bootstrap: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "kafka.acks" -> "all",
    "kafka.retries" -> "3",
    "kafka.enable.idempotence" -> "true",
    "kafka.compression.type" -> "snappy",
    "kafka.batch.size" -> "16384",
    "kafka.linger.ms" -> "10",
    "kafka.max.in.flight.requests.per.connection" -> "5")

  /** S4 batch publish (`service/EventPublisher.java:149-158`,
    * `publishBatch(topic, Map<String, Message>)`): pre-keyed records to
    * ONE topic through the native batched sink. The reference loops keyed
    * sends through KafkaTemplate; Spark's kafka sink IS that loop, with
    * the producer batching per executor under [[sinkOptions]]'
    * batch.size/linger.ms. This is the offline-testable projection: the
    * sink's required (key BINARY, value BINARY, topic) record shape from
    * any keyed frame. [[publishBatch]] composes it with the sink posture.
    */
  def toBatchRecords(events: DataFrame, topic: String,
                     keyCol: String = "key", valueCol: String = "value"): DataFrame =
    events.select(
      col(keyCol).cast("string").cast("binary").as("key"),
      col(valueCol).cast("binary").as("value"),
      lit(topic).as("topic"))

  /** S4 live form: project + apply the sink posture + save. Broker-gated
    * like every live path in this file (needs `spark-sql-kafka-0-10`).
    */
  def publishBatch(events: DataFrame, bootstrap: String, topic: String): Unit =
    toBatchRecords(events, topic).write.format("kafka")
      .options(sinkOptions(bootstrap))
      .save()

  /** S10 replay re-publish projection: stamp replay.* headers and the
    * target topic (`service/EventReplayService.java:245-261`). Works on any
    * frame with kafka-shaped (topic, partition, offset, key, value) columns.
    */
  def replayProjection(df: DataFrame, targetTopic: Option[String]): DataFrame = {
    val target = targetTopic.map(lit).getOrElse(concat(col("topic"), lit(".replay")))
    df.select(
      target.as("topic"),
      col("key"), col("value"),
      array(
        struct(lit("replay.original.topic").as("key"), encode(col("topic"), "UTF-8").as("value")),
        struct(lit("replay.original.partition").as("key"),
          encode(col("partition").cast("string"), "UTF-8").as("value")),
        struct(lit("replay.original.offset").as("key"),
          encode(col("offset").cast("string"), "UTF-8").as("value"))
      ).as("headers"))
  }

  /** Serialize side of the Confluent wire format (Avro/JSON-Schema
    * flavor): magic 0x00 + big-endian int32 schema id + payload. The
    * mirror of [[stripConfluentPrefix]], so an offline pipeline can
    * produce byte-identical wire values (round-trip pinned in
    * KafkaWireSpec) and publish them unchanged once a broker exists.
    */
  def toConfluentWireFormat(schemaId: org.apache.spark.sql.Column,
                            payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit(Array[Byte](0)),
      unhex(lpad(hex(schemaId.cast("int")), 8, "0")), payload)

  /** Serialize side, protobuf flavor: adds the single-`0` message-index
    * byte after the schema id (the compressed form every top-level message
    * uses; nested message paths need the full zigzag-varint list).
    */
  def toConfluentProtobufWireFormat(schemaId: org.apache.spark.sql.Column,
                                    payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit(Array[Byte](0)),
      unhex(lpad(hex(schemaId.cast("int")), 8, "0")),
      lit(Array[Byte](0)), payload)

  /** Confluent wire format, Avro/JSON-Schema flavor: drop the 5-byte
    * magic + schema-id prefix (SURVEY §7.4.5). Protobuf payloads carry an
    * additional message-index list after the schema id — use
    * [[stripConfluentProtobufPrefix]] for those.
    */
  def stripConfluentPrefix(value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(value, 6, Int.MaxValue)

  /** Confluent wire format, protobuf flavor: after magic(1) + schema-id(4)
    * comes the message-index list — zigzag varints: a count, then that many
    * indexes, with the single-`0` list compressed to one 0x00 byte. Handles
    * the wire shapes where count and every index fit in one varint byte
    * each (count < 64 messages deep, index < 64 — every real registry
    * subject); anything longer yields null rather than a misparse.
    */
  def stripConfluentProtobufPrefix(value: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // byte 6 (1-based), as unsigned int
    val b0 = conv(hex(substring(value, 6, 1)), 16, 10).cast("int")
    // zigzag-decode: non-negative counts land on even wire bytes
    val count = (b0 / 2).cast("int")
    when(b0 === 0, substring(value, 7, Int.MaxValue))
      .when(b0 < 128 && (b0 % 2 === 0),
        value.substr(lit(7) + count, lit(Int.MaxValue)))
      .otherwise(lit(null).cast("binary"))
  }

  /** Decodes the common `EventMetadata` envelope (field 1 of EVERY
    * reference event, `common.proto:38-49`) out of a bare-protobuf value
    * column through the engine's one protobuf decoder: the
    * [[graft.schema.ProtoSchemas.envelope]] descriptor, one pass over the
    * bytes. proto3 presence applies: an absent envelope or `Timestamp`
    * decodes to null, absent scalars to their defaults. Compose with
    * [[stripConfluentProtobufPrefix]] for Confluent-framed Kafka values.
    * Sessions must call `graft.functions.Hashing.register` first.
    */
  def decodeEventMetadata(value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.schema.ProtoSchemas.decode(value, graft.schema.ProtoSchemas.envelope)
      .getField("metadata")
}
