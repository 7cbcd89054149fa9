package graft

import graft.observe.MetricsObserver
import graft.operators.Envelope
import graft.schema.ProtoSchemas
import graft.streaming.PublishPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Publish-path projection (S1/S2/F9) + observe-based metrics (A8). */
class PublishPipelineSpec extends SparkSpec {

  test("S2 auto-metadata with injected id/clock is deterministic; S1 record shape") {
    import spark.implicits._
    val base = Seq((1L, "click", 2.0, """{"k":1}""", 7L))
      .toDF("event_id", "event_type", "value", "props", "user_id")
      .withColumn("ts", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    val enveloped = Envelope.withEnvelope(base)
    val meta = PublishPipeline.autoMetadata(enveloped,
      idCol = concat(lit("ev-"), col("event_id")),
      clockCol = lit(Timestamp.valueOf("2024-06-01 12:00:00")))
    val rec = PublishPipeline.toKafkaRecords(meta, PublishPipeline.TenantBased).collect()(0)

    assert(rec.getAs[String]("key") == "tenant-7")
    assert(rec.getAs[String]("topic") == "nnipa.events.click.recorded")
    val hdrs = rec.getAs[Map[String, String]]("headers")
    assert(hdrs("event.id") == "ev-1" && hdrs("priority") == "PRIORITY_MEDIUM"
      && hdrs("version") == "1")
    val json = new String(rec.getAs[Array[Byte]]("value"), "UTF-8")
    assert(json.contains(""""event_id":"ev-1"""") && json.contains(""""event_type":"click""""))
  }

  test("S1 proto wire form: publish -> consume round-trips the envelope") {
    import spark.implicits._
    val base = Seq((9L, "click", 2.0, """{"k":1}""", 7L))
      .toDF("event_id", "event_type", "value", "props", "user_id")
      .withColumn("ts", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    val rec = PublishPipeline.toKafkaRecordsProto(
      Envelope.withEnvelope(base), PublishPipeline.TenantBased)
    // the consumer's wire entry point decodes the published value back
    val got = graft.streaming.ConsumePipeline.fromWire(
        rec.select("topic", "value"))
      .select("event_id_s", "ts", "tenant_id", "user_s", "priority", "retry_count",
        "props")
      .collect()(0)
    assert(got.getString(0) == "9")
    assert(got.getAs[Timestamp](1) == Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(got.getString(2) == "tenant-7")
    assert(got.getString(3) == "user-7")
    assert(got.getString(4) == "PRIORITY_CRITICAL")  // 9 % 5 = 4
    assert(got.getInt(5) == 4)
    // the event BODY survives the proto round trip via the wire headers map
    val props = got.getString(6)
    assert(props.contains(""""event.type":"click""""))
    assert(props.contains(""""event.value":"2.0""""))
    assert(props.contains("""{\"k\":1}"""))
  }

  test("S1 proto wire form: NULL props is omitted, not conflated with empty string") {
    import spark.implicits._
    val base = Seq((9L, "click", 2.0, null.asInstanceOf[String], 7L),
                   (10L, "click", 2.0, "", 7L))
      .toDF("event_id", "event_type", "value", "props", "user_id")
      .withColumn("ts", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    val rec = PublishPipeline.toKafkaRecordsProto(
      Envelope.withEnvelope(base), PublishPipeline.TenantBased)
    val got = graft.streaming.ConsumePipeline.fromWire(rec.select("topic", "value"))
      .withColumn("m", ProtoSchemas.decodeSafe(col("value"), ProtoSchemas.envelope)
        .getField("metadata"))
      .select(col("event_id_s"), element_at(col("m.headers"), "event.props").as("p"))
      .orderBy("event_id_s")
      .collect()
    // NULL props -> the wire map has NO event.props entry -> element_at
    // restores NULL; empty-string props round-trips as "" — distinct states
    assert(got(0).getString(0) == "10" && got(0).getString(1) == "")
    assert(got(1).getString(0) == "9" && got(1).isNullAt(1))
  }

  test("P1h custom strategy dispatches by event-class pattern") {
    import spark.implicits._
    val base = Seq(
      (1L, "TenantCreatedEvent", 1.0, "{}", 3L),
      (2L, "UserLoginEvent", 1.0, "{}", 3L),
      (3L, "WhateverEvent", 1.0, "{}", 3L))
      .toDF("event_id", "event_type", "value", "props", "user_id")
      .withColumn("ts", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    val rec = PublishPipeline.toKafkaRecords(
      Envelope.withEnvelope(base), PublishPipeline.Custom)
      .select("key").as[String].collect().toSeq
    assert(rec(0) == "tenant-3")               // Tenant* -> tenant key
    assert(rec(1) == "tenant-3:user-3")        // User* -> composite
    assert(rec(2).startsWith("corr-"))         // fallback -> correlation
  }

  test("A8 observe metrics accumulate across micro-batches via the listener") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val listener = new MetricsObserver.Accumulating
    spark.streams.addListener(listener)
    try {
      val input = MemoryStream[Ev]
      val instrumented = MetricsObserver.instrument(
        Envelope.withEnvelope(input.toDF()))
      val q = instrumented.writeStream.format("noop").start()
      input.addData(Ev(20L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "error", 1.0, "{}"),
                    Ev(21L, Timestamp.valueOf("2024-01-01 10:01:00"), 1L, "click", 1.0, "{}"))
      q.processAllAvailable()
      input.addData(Ev(22L, Timestamp.valueOf("2024-01-01 10:02:00"), 1L, "click", 1.0, "{}"))
      q.processAllAvailable()
      q.stop()
      // listener events are async; poll briefly for the totals
      val deadline = System.currentTimeMillis() + 10000
      while (listener.snapshot.getOrElse("events", 0L) < 3L &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      val m = listener.snapshot
      assert(m("events") == 3L)   // both batches counted
      assert(m("invalid") == 1L)  // id 20 -> empty event_id
      assert(m("errors") == 1L)   // id 20 is the error row
    } finally spark.streams.removeListener(listener)
  }
}
