package graft

import graft.operators.{Dedup, Envelope}
import graft.sources.Tables
import graft.streaming.ConsumePipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import java.sql.Timestamp

/** Streaming E2E (SURVEY §5.3): the consume pipeline over micro-batches
  * must converge to the same results as the batch form — dedup across
  * batches, DLQ routing, retry-count progression.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

class ConsumePipelineSpec extends SparkSpec {

  private def mkEv(id: Long, minute: Int, etype: String = "click"): Ev =
    evAt(id, f"10:$minute%02d", etype)

  private def evAt(id: Long, hhmm: String, etype: String = "click"): Ev =
    Ev(id, Timestamp.valueOf(s"2024-01-01 $hhmm:00"), id % 10, etype, 1.0, """{"k":1}""")

  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  test("streaming dedup across micro-batches matches batch keep-first") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("consume").toString

    val input = MemoryStream[Ev]
    // batch 1: ids 1..5; batch 2 re-delivers 2,3 (later ts) + new 6,7
    val b1 = (1L to 5L).map(i => mkEv(i, i.toInt))
    val b2 = Seq(mkEv(2, 30), mkEv(3, 31), mkEv(6, 32), mkEv(7, 33))

    val enveloped = Envelope.withEnvelope(input.toDF())
    val q = ConsumePipeline.start(enveloped, out,
      ConsumePipeline.Config(dedupTtl = "2 hours"), availableNow = false)
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    val processed = spark.read.parquet(s"$out/processed")
    val ids = processed.select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L), "each id exactly once across batches")

    // batch form over the union sees the same surviving set
    val batchAll = Envelope.withEnvelope((b1 ++ b2).toDF())
    val batchKept = Dedup.keepFirst(batchAll, Seq("event_id"), Seq("ts"))
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == batchKept)
  }

  test("startFromWire: raw bytes -> decode-once -> dedup -> route, across batches") {
    import spark.implicits._
    import graft.functions.ProtoWire._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("consume-wire").toString

    def wire(id: Long, minute: Int, retry: Long): Array[Byte] =
      message(lenField(1, message(
        stringField(1, if (id % 20 == 0) "" else id.toString),
        timestampField(4, 1704103200L + minute * 60L, 0),
        mapEntryField(6, "k", s"v$id"),
        stringField(7, s"t-${id % 5}"),
        varintField(10, retry))))

    val input = MemoryStream[(String, Array[Byte])]
    val q = ConsumePipeline.startFromWire(
      input.toDF().toDF("topic", "value"), out,
      ConsumePipeline.Config(dedupTtl = "2 hours"), availableNow = false)
    try {
      // batch 1: 3 ok events + 1 invalid (empty event_id on the wire)
      input.addData(Seq(1L, 2L, 3L).map(i => ("nnipa.events.click.recorded", wire(i, i.toInt, 0))) :+
        (("nnipa.events.click.recorded", wire(20L, 4, 0))): _*)
      q.processAllAvailable()
      // batch 2: event 2 redelivered (decodes to the same event_id -> deduped),
      // fresh 5, and a POISON PILL (truncated wire bytes) — the safe decode
      // turns it into the invalid branch instead of killing the stream
      val pill = wire(6L, 32, 0).dropRight(4)
      input.addData(
        ("nnipa.events.click.recorded", wire(2L, 30, 0)),
        ("nnipa.events.click.recorded", wire(5L, 31, 0)),
        ("nnipa.events.click.recorded", pill))
      q.processAllAvailable()
    } finally q.stop()

    val processed = spark.read.parquet(s"$out/processed")
    assert(processed.select("event_id_s").as[String].collect().sorted.toSeq ==
      Seq("1", "2", "3", "5"), "decoded ids, deduped across wire batches")
    // decoded envelope fields survived: headers-as-props JSON + tenant
    val r = processed.filter(col("event_id_s") === "3")
      .select("props", "tenant_id", "ts").head()
    assert(r.getString(0) == """{"k":"v3"}""")
    assert(r.getString(1) == "t-3")
    assert(r.getAs[java.sql.Timestamp](2).getTime == (1704103200L + 180L) * 1000L)
    // DLQ holds BOTH the empty-id event and the poison pill (2 rows)
    val dlq = spark.read.parquet(s"$out/dlq")
    assert(dlq.count() == 2)
    assert(dlq.select("error_message").as[String].collect().toSet == Set("Invalid event"))
  }

  test("startFromWire: an envelope without a Timestamp lands exactly once, in processed") {
    import spark.implicits._
    import graft.functions.ProtoWire._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("consume-no-ts").toString

    // Validation checks only the id and the payload, so an event with no
    // event time is valid: proto3 presence decodes its ts to null, which
    // the dedup watermark never counts as late
    def wire(id: String, minute: Option[Int]): Array[Byte] =
      message(lenField(1, message(Seq(stringField(1, id)) ++
        minute.map(m => timestampField(4, 1704103200L + m * 60L, 0)) ++
        Seq(mapEntryField(6, "k", id), stringField(7, "t-1")): _*)))

    val input = MemoryStream[(String, Array[Byte])]
    val q = ConsumePipeline.startFromWire(
      input.toDF().toDF("topic", "value"), out,
      ConsumePipeline.Config(dedupTtl = "2 hours"), availableNow = false)
    try {
      Seq(wire("with-ts", Some(10)), wire("no-ts", None), wire("with-ts-2", Some(20)))
        .foreach { frame =>
          input.addData(("nnipa.events.click.recorded", frame))
          q.processAllAvailable()
        }
    } finally q.stop()

    def ids(sink: String): Seq[String] =
      spark.read.parquet(s"$out/$sink").select("event_id_s").as[String].collect().sorted.toSeq
    assert(ids("processed") == Seq("no-ts", "with-ts", "with-ts-2"))
    assert(ids("dlq").isEmpty && ids("retry").isEmpty)
    assert(spark.read.parquet(s"$out/processed").filter(col("event_id_s") === "no-ts")
      .select("ts").head().isNullAt(0))
  }

  test("invalid events route to DLQ, failures honor retry-vs-DLQ split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("consume2").toString

    val input = MemoryStream[Ev]
    // id 20 -> empty event_id (invalid, Envelope: id % 20 == 0)
    // event_type "error" marked failed; retry_count = id % 5 -> id 23 (rc 3) exhausts
    val evs = Seq(mkEv(20, 1), mkEv(21, 2, "error"), mkEv(23, 3, "error"), mkEv(24, 4))

    val enveloped = Envelope.withEnvelope(input.toDF())
    val q = ConsumePipeline.start(enveloped, out,
      failurePredicate = col("event_type") === "error", availableNow = false)
    input.addData(evs: _*)
    q.processAllAvailable()
    q.stop()

    val processed = spark.read.parquet(s"$out/processed").select("event_id").as[Long].collect().toSet
    val dlq = spark.read.parquet(s"$out/dlq")
      .select("event_id", "error_message").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val retry = spark.read.parquet(s"$out/retry")
      .select("event_id", "next_retry_count", "route_topic").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))

    assert(processed == Set(24L))
    assert(dlq(20L) == "Invalid event")
    assert(dlq(23L) == "Max retries exceeded")        // retry_count 3 = max
    assert(retry.toSeq == Seq((21L, 2, "nnipa.events.error.recorded.retry.2")))
  }

  test("each micro-batch runs its stateful plan once and leaves no persisted RDD") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("consume-once").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet

    val input = MemoryStream[Ev]
    val q = ConsumePipeline.start(Envelope.withEnvelope(input.toDF()), out,
      ConsumePipeline.Config(dedupTtl = "2 hours"), availableNow = false)
    try {
      input.addData((1L to 7L).map(i => mkEv(i, i.toInt)): _*)
      q.processAllAvailable()
      val data = q.recentProgress.filter(_.numInputRows > 0)
      assert(data.length == 1)
      // the appends all read one materialization of the batch, so the
      // dedup state store loads, updates and commits each row once — a
      // re-executed plan would count every row once per append
      val state = data.head.stateOperators(0)
      assert(state.numRowsTotal == 7L)
      assert(state.numRowsUpdated == 7L)
    } finally q.stop()
    assert(spark.read.parquet(s"$out/processed").count() == 7L)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the per-batch barrier's blocks must be released")
  }

  test("a failing sink append fails the stream and still releases the batch's RDD") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("consume-fail").toString
    // dlq is a regular file, so the second append cannot write under it
    val dlqFile = java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "dlq"), Array[Byte](1))
    val before = spark.sparkContext.getPersistentRDDs.keySet

    val input = MemoryStream[Ev]
    val q = ConsumePipeline.start(Envelope.withEnvelope(input.toDF()), out,
      ConsumePipeline.Config(dedupTtl = "2 hours"), availableNow = false)
    val err = try {
      input.addData(mkEv(1, 1), mkEv(20, 2)) // id 20: empty event_id -> DLQ
      intercept[StreamingQueryException](q.processAllAvailable())
    } finally q.stop()
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(t => String.valueOf(t.getMessage).contains(dlqFile.toString)),
      s"stream should fail with the dlq append's error, got: $err")
    // the append before the failing one had landed: delivery across the
    // sinks is at-least-once, a replay would append it again
    assert(spark.read.parquet(s"$out/processed").select("event_id").as[Long]
      .collect().toSeq == Seq(1L))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "a failed batch must still release its barrier's blocks")
  }

  test("runs no eviction-only micro-batch: every batch has input rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("consume-nodata").toString

    val input = MemoryStream[Ev]
    // 13:00 moves the watermark past 10:00 + 1 h, so id 1 has expired;
    // Spark's default would follow with a batch of no input to evict it
    input.addData(evAt(1, "10:00"), evAt(2, "13:00"))
    val q = ConsumePipeline.start(Envelope.withEnvelope(input.toDF()), out,
      ConsumePipeline.Config(dedupTtl = "1 hour"))
    try q.awaitTermination() finally q.stop()

    val batches = q.recentProgress.map(p => p.batchId -> p.numInputRows).toSeq
    assert(batches.nonEmpty && batches.forall(_._2 > 0),
      s"every micro-batch must carry input (batch -> rows): $batches")
    assert(spark.read.parquet(s"$out/processed").count() == 2L)
  }

  test("post-TTL redelivery: admitted only after the batch that evicts its key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("consume-post-ttl").toString

    val input = MemoryStream[Ev]
    val q = ConsumePipeline.start(Envelope.withEnvelope(input.toDF()), out,
      ConsumePipeline.Config(dedupTtl = "1 hour"), availableNow = false)
    try {
      // 13:00 moves the watermark to 12:00, past id 1's 11:00 expiry: the
      // 13:01 batch still drops id 1 and evicts it at its end, so the
      // 13:02 copy is the one admitted. The pauses leave an idle engine
      // the time to run an eviction-only batch, which would admit 13:01
      Seq(evAt(1, "10:00"), evAt(2, "13:00"), evAt(1, "13:01"), evAt(1, "13:02"))
        .foreach { ev =>
          input.addData(ev)
          q.processAllAvailable()
          Thread.sleep(500)
        }
    } finally q.stop()

    val admitted = spark.read.parquet(s"$out/processed")
      .select("event_id", "ts").as[(Long, Timestamp)].collect().toSeq
      .groupBy(_._1).map { case (id, rows) => id -> rows.map(_._2).sortBy(_.getTime) }
    def at(hhmm: String): Timestamp = evAt(0, hhmm).ts
    assert(admitted == Map(1L -> Seq(at("10:00"), at("13:02")), 2L -> Seq(at("13:00"))))
    // no copy within the TTL of an admitted one is ever admitted
    assert(admitted.values.forall(ts => ts.zip(ts.drop(1)).forall { case (a, b) =>
      b.getTime - a.getTime > 3600L * 1000L }), s"within-TTL copy admitted: $admitted")
  }

  test("start restores the caller's no-data-batch setting: unset, true, throw") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val conf = spark.conf
    def setting: Option[String] = conf.getAll.get(NoDataBatches)
    def run(out: String): Unit = {
      val q = ConsumePipeline.start(
        Envelope.withEnvelope(MemoryStream[Ev].toDF()), out, availableNow = false)
      q.stop()
    }
    val callers = setting
    try {
      conf.unset(NoDataBatches)
      run(java.nio.file.Files.createTempDirectory("consume-conf-unset").toString)
      assert(setting.isEmpty, "an unset caller setting must stay unset")

      conf.set(NoDataBatches, "true")
      run(java.nio.file.Files.createTempDirectory("consume-conf-true").toString)
      assert(setting == Some("true"))

      // the checkpoint would sit under a regular file, so start() throws
      conf.unset(NoDataBatches)
      val file = java.nio.file.Files.createTempFile("consume-conf-fail", "")
      intercept[Exception](run(file.toString))
      assert(setting.isEmpty, "a start that throws must still restore the caller's setting")
    } finally callers.fold(conf.unset(NoDataBatches))(conf.set(NoDataBatches, _))
  }
}
