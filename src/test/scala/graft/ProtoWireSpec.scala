package graft

import graft.functions.ProtoStruct._
import graft.functions.ProtoWire
import graft.io.KafkaIO
import graft.schema.ProtoSchemas
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** functions/ProtoWire — proto3 wire-format encoders and primitives, built
  * from the public encoding spec. Round-trips hand-encoded reference
  * messages (EventMetadata + TenantCreatedEvent shapes,
  * common.proto:38-49 / tenant_events.proto:18-37) through the one
  * descriptor-driven decoder, including the Confluent protobuf framing; a
  * single-field read is a descriptor that lists just that field.
  */
class ProtoWireSpec extends SparkSpec {

  import spark.implicits._
  import ProtoWire._

  /** EventMetadata wire bytes (field numbers per common.proto:38-49). */
  private def metadataBytes(eventId: String, tenant: String, user: String,
                            prioEnum: Int, retry: Int, secs: Long, nanos: Int) =
    message(
      stringField(1, eventId), stringField(2, s"corr-$eventId"),
      stringField(3, "tenant-service"),
      timestampField(4, secs, nanos),
      varintField(5, 1),
      mapEntryField(6, "h1", "v1"), mapEntryField(6, "h2", "v2"),
      stringField(7, tenant), stringField(8, user),
      varintField(9, prioEnum.toLong), varintField(10, retry.toLong))

  /** TenantCreatedEvent: metadata (1) + TenantData (2). */
  private def tenantCreated(eventId: String): Array[Byte] =
    message(
      lenField(1, metadataBytes(eventId, "t-42", "u-7", prioEnum = 3,
        retry = 2, secs = 1704103200L, nanos = 500000000)),
      lenField(2, message(
        stringField(1, "t-42"), stringField(2, "Acme"),
        stringField(3, "acme.example"), varintField(4, 2),
        varintField(8, 1))))

  test("decodes every scalar envelope + payload field from the wire bytes") {
    val df = Seq(Tuple1(tenantCreated("ev-1"))).toDF("value")
    val payload = Vector(PField(2, "t", KMsg(Vector(
      PField(1, "tenant_id", KStr), PField(2, "name", KStr),
      PField(4, "org_type", KI64), PField(8, "is_active", KI64)))))
    val row = df.select(
        KafkaIO.decodeEventMetadata(col("value")).as("m"),
        ProtoSchemas.decode(col("value"), payload).as("d"))
      .select("m", "d.t.tenant_id", "d.t.name", "d.t.org_type", "d.t.is_active")
      .head()
    val m = row.getStruct(0)
    assert(m.getAs[String]("event_id") == "ev-1")
    assert(m.getAs[String]("correlation_id") == "corr-ev-1")
    assert(m.getAs[String]("source_service") == "tenant-service")
    assert(m.getAs[java.sql.Timestamp]("timestamp").getTime == 1704103200500L)
    assert(m.getAs[Int]("version") == 1)
    assert(m.getAs[String]("tenant_id") == "t-42")
    assert(m.getAs[String]("user_id") == "u-7")
    assert(m.getAs[String]("priority") == "PRIORITY_HIGH")
    assert(m.getAs[Int]("retry_count") == 2)
    assert(row.getString(1) == "t-42" && row.getString(2) == "Acme")
    assert(row.getLong(3) == 2L && row.getLong(4) == 1L)
  }

  test("proto3 defaults: absent fields read as empty / zero") {
    val sparse = message(lenField(1, stringField(1, "only-id")))
    val df = Seq(Tuple1(sparse)).toDF("value")
    val m = df.select(KafkaIO.decodeEventMetadata(col("value")).as("m")).head().getStruct(0)
    assert(m.getAs[String]("event_id") == "only-id")
    assert(m.getAs[String]("tenant_id") == "")
    assert(m.getAs[Int]("retry_count") == 0)
    assert(m.getAs[String]("priority") == "PRIORITY_UNSPECIFIED")
  }

  test("unknown fields of every wire type are skipped; last scalar wins") {
    val noise = message(
      varintField(99, 7),                                 // unknown varint
      tenantCreated("ev-x"),
      lenField(50, "junk".getBytes("UTF-8")),             // unknown bytes
      lenField(1, metadataBytes("ev-final", "t-9", "u-9", 1, 0, 1L, 0)))
    val df = Seq(Tuple1(noise)).toDF("value")
    val m = df.select(KafkaIO.decodeEventMetadata(col("value")).as("m")).head().getStruct(0)
    // proto3 merge: the later metadata message replaces the earlier one
    assert(m.getAs[String]("event_id") == "ev-final")
    assert(m.getAs[String]("tenant_id") == "t-9")
  }

  test("Confluent protobuf framing round-trips into the decoder") {
    val df = Seq(Tuple1(tenantCreated("ev-wire"))).toDF("payload")
    val framed = df.select(KafkaIO.toConfluentProtobufWireFormat(
      lit(1234), col("payload")).as("value"))
    val m = framed.select(KafkaIO.decodeEventMetadata(
        KafkaIO.stripConfluentProtobufPrefix(col("value"))).as("m"))
      .head().getStruct(0)
    assert(m.getAs[String]("event_id") == "ev-wire")
    assert(m.getAs[String]("priority") == "PRIORITY_HIGH")
  }

  test("headers map, repeated strings, and doubles decode from the wire") {
    val tenantData = message(
      stringField(1, "t-1"),
      mapEntryField(11, "k1", "a"), mapEntryField(11, "k2", "b"),
      mapEntryField(11, "k1", "override"),       // proto3 map merge: last wins
      lenField(12, "feat-a".getBytes("UTF-8")),  // repeated string
      lenField(12, "feat-b".getBytes("UTF-8")),
      doubleField(20, 3.25))
    val bytes = message(
      lenField(1, metadataBytes("ev-m", "t-1", "u-1", 2, 0, 10L, 0)),
      lenField(2, tenantData))
    val payload = Vector(PField(2, "t", KMsg(Vector(
      PField(11, "settings", KSMap), PField(12, "features", KRStr),
      PField(20, "price", KF64), PField(99, "absent", KRStr)))))
    val row = Seq(Tuple1(bytes)).toDF("value").select(
        KafkaIO.decodeEventMetadata(col("value")).as("m"),
        ProtoSchemas.decode(col("value"), payload).as("d"))
      .select("m", "d.t.settings", "d.t.features", "d.t.price", "d.t.absent")
      .head()
    assert(row.getStruct(0).getAs[Map[String, String]]("headers") ==
      Map("h1" -> "v1", "h2" -> "v2"))
    assert(row.getAs[Map[String, String]](1) == Map("k1" -> "override", "k2" -> "b"))
    assert(row.getAs[scala.collection.Seq[String]](2).toSeq == Seq("feat-a", "feat-b"))
    assert(row.getDouble(3) == 3.25)
    assert(row.getAs[scala.collection.Seq[String]](4).isEmpty)
  }

  test("map<string,int64> decodes varint-valued entries (usage breakdown shape)") {
    // commands.proto:149 — usage counts keyed by event type
    val bytes = message(
      lenField(1, stringField(1, "ev-u")),
      longMapEntryField(3, "ingest", 300L),           // multi-byte varint
      longMapEntryField(3, "emit", 0L),
      longMapEntryField(3, "ingest", Long.MaxValue))  // map merge: last wins
    val row = Seq(Tuple1(bytes)).toDF("value")
      .select(ProtoSchemas.decode(col("value"),
        Vector(PField(3, "usage", KLMap), PField(9, "absent", KLMap))).as("d"))
      .select("d.usage", "d.absent")
      .head()
    assert(row.getAs[Map[String, Long]](0) ==
      Map("ingest" -> Long.MaxValue, "emit" -> 0L))
    assert(row.getAs[Map[String, Long]](1).isEmpty)
  }

  test("the envelope decodes to its expected values: full, sparse, duplicated, noisy") {
    val shapes = Seq(
      tenantCreated("ev-a"),
      message(lenField(1, stringField(1, "only-id"))),
      message(lenField(1, metadataBytes("ev-b", "t-1", "u-1", 0, 0, 0L, 0)),
        lenField(1, metadataBytes("ev-c", "t-2", "u-2", 4, 9, 2000000000L, 999999999))),
      message(varintField(99, 7),
        lenField(1, metadataBytes("ev-d", "t-3", "u-3", 7, 1, 5L, 1000)),  // enum out of range
        lenField(50, "junk".getBytes("UTF-8"))))
    val rows = shapes.zipWithIndex.map { case (b, i) => (i, b) }.toDF("i", "value")
      .select(col("i"), KafkaIO.decodeEventMetadata(col("value")).as("m"))
      .select(col("m.event_id"), col("m.correlation_id"), col("m.source_service"),
        unix_micros(col("m.timestamp")), col("m.version"), col("m.headers"),
        col("m.tenant_id"), col("m.user_id"), col("m.priority"), col("m.retry_count"))
      .collect()
    val headers = Map("h1" -> "v1", "h2" -> "v2")
    assert(rows.toSeq == Seq(
      Row("ev-a", "corr-ev-a", "tenant-service", 1704103200500000L, 1, headers,
        "t-42", "u-7", "PRIORITY_HIGH", 2),
      // proto3 presence: the absent Timestamp is null, scalars default
      Row("only-id", "", "", null, 0, Map.empty[String, String],
        "", "", "PRIORITY_UNSPECIFIED", 0),
      // a repeated envelope: the later message replaces the earlier one
      Row("ev-c", "corr-ev-c", "tenant-service", 2000000000999999L, 1, headers,
        "t-2", "u-2", "PRIORITY_CRITICAL", 9),
      // unknown fields skipped; an out-of-range enum reads as value 0
      Row("ev-d", "corr-ev-d", "tenant-service", 5000001L, 1, headers,
        "t-3", "u-3", "PRIORITY_UNSPECIFIED", 1)))
  }

  test("poison pills: corrupt bytes throw on the strict path, NULL on the safe path") {
    val good = tenantCreated("ev-ok")
    val corrupt = Seq(
      good.take(good.length - 3),                  // truncated mid-payload
      good.take(2),                                // truncated varint/length
      Array[Byte](0x0f, 0x01),                     // unknown wire type 7
      message(lenField(1, stringField(1, "x"))).dropRight(1))
    // strict decoder (graft_proto_decode): every corruption is an
    // exception, never garbage
    corrupt.foreach { bad =>
      intercept[Exception](Seq(Tuple1(bad)).toDF("value")
        .select(KafkaIO.decodeEventMetadata(col("value"))).collect())
    }
    // safe decoder: NULL (DLQ-routable), pipeline survives; good bytes
    // decode identically to the strict path
    val df = (corrupt :+ good).zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("i", "value")
    val rows = df.select(col("i"),
        ProtoSchemas.decodeSafe(col("value"), ProtoSchemas.envelope)
          .getField("metadata").as("m"))
      .orderBy("i").collect()
    assert(rows.take(corrupt.length).forall(_.isNullAt(1)))
    assert(rows.last.getStruct(1).getAs[String]("event_id") == "ev-ok")
  }

  test("varint encode/decode round-trips multi-byte values") {
    val big = message(varintField(3, 300L), varintField(4, Long.MaxValue))
    val df = Seq(Tuple1(big)).toDF("value")
    val row = df.select(ProtoSchemas.decode(col("value"),
        Vector(PField(3, "a", KI64), PField(4, "b", KI64))).as("d"))
      .select("d.a", "d.b").head()
    assert(row.getLong(0) == 300L && row.getLong(1) == Long.MaxValue)
  }

  test("jsonToValue is the exact inverse of valueToJson on canonical JSON") {
    def rt(j: String): String = ProtoWire.valueToJson(ProtoWire.jsonToValue(j))
    val docs = Seq(
      "null", "true", "false", "0", "-7", "123456", "1.5", "-2.25", "0.001",
      "\"\"", "\"hello\"", "\"a\\nb\"", "\"q\\\"w\\\\e\"", "\"Ωδü\"",
      "[]", "[1,2,3]", "[true,null,\"x\"]",
      "{}", "{\"a\":1}", "{\"a\":{\"b\":[1,\"two\",{\"c\":null}]},\"d\":false}")
    docs.foreach(j => assert(rt(j) == j, s"round trip broke for $j"))
    // whitespace-tolerant parse, canonical compact print
    assert(rt(" { \"a\" : [ 1 , true ] } ") == "{\"a\":[1,true]}")
    // \u escapes and solidus unescape to the canonical form
    assert(rt("\"\\u0041\\/\"") == "\"A/\"")
    // oneof presence: false/null/0 all survive (not skipped as defaults)
    assert(rt("{\"f\":false,\"n\":null,\"z\":0}") == "{\"f\":false,\"n\":null,\"z\":0}")
    // strict: malformed input throws, never coerces
    Seq("tru", "{\"a\":}", "[1,]", "\"unterminated", "1.5x", "{}extra", "")
      .foreach(bad => intercept[IllegalArgumentException](ProtoWire.jsonToValue(bad)))
    // strict NUMBER grammar (RFC 8259): forms Double.parseDouble would
    // tolerate are rejected — non-canonical text must throw, not encode
    Seq(".5", "5.", "+5", "01", "-", "1e", "1.e3", "--1")
      .foreach(bad => intercept[IllegalArgumentException](ProtoWire.jsonToValue(bad)))
    // valid exponent/sign forms still parse
    Seq("1.5e3", "1.5E-3", "2e+10", "-0.25", "0").foreach(ok =>
      ProtoWire.jsonToValue(ok): Unit)
    // raw control characters inside strings are illegal (must be escaped)
    intercept[IllegalArgumentException](ProtoWire.jsonToValue("\"a\u0001b\""))
    assert(rt("\"a\\u0001b\"") == "\"a\\u0001b\"")
  }
}
