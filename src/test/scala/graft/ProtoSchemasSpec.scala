package graft

import graft.functions.{ProtoStruct, ProtoWire}
import graft.schema.{EventSchemas, ProtoSchemas}
import org.apache.spark.sql.functions._

/** Schema-driven one-pass decode (functions/ProtoStruct +
  * schema/ProtoSchemas): descriptor-derived StructTypes must equal the
  * declared §1.2 schema system, the spec DSL must round-trip, and a full
  * TenantCreatedEvent / AuditLogCommand wire round-trip must decode every
  * construct (nested msg, enums, maps, repeated, timestamps, Any) in one
  * scan.
  */
class ProtoSchemasSpec extends SparkSpec {

  import spark.implicits._
  import ProtoWire._

  test("descriptor-derived StructType == EventSchemas for all 10 subjects") {
    val declared = EventSchemas.wellKnownSubjects.toMap
    assert(ProtoSchemas.wellKnownDescriptors.map(_._1) ==
      EventSchemas.wellKnownSubjects.map(_._1))
    for ((subject, desc) <- ProtoSchemas.wellKnownDescriptors) {
      assert(ProtoStruct.structOf(desc) == declared(subject),
        s"schema drift on $subject")
    }
  }

  test("spec DSL round-trips every descriptor (render -> parse == identity)") {
    for ((subject, desc) <- ProtoSchemas.wellKnownDescriptors) {
      assert(ProtoStruct.parse(ProtoStruct.render(desc)) == desc,
        s"DSL round-trip failed for $subject")
    }
  }

  /** Hand-encoded full TenantCreatedEvent: every construct exercised. */
  private def tenantCreatedBytes: Array[Byte] = {
    val addr = message(
      stringField(1, "1 Main St"), stringField(2, "Accra"),
      stringField(5, "GH"), doubleField(6, 5.6), doubleField(7, -0.2))
    val contact = message(
      stringField(1, "ops@acme.example"), stringField(2, "+233"),
      lenField(5, addr))
    val tenant = message(
      stringField(1, "t-42"), stringField(2, "Acme"),
      stringField(3, "acme.example"),
      varintField(4, 2),  // ORGANIZATION_TYPE_CORPORATION
      varintField(5, 4),  // TIER_ENTERPRISE
      varintField(6, 3),  // ISOLATION_DATABASE_ISOLATION
      varintField(8, 1),  // is_active
      timestampField(9, 1704103200L, 250000000),
      lenField(10, contact),
      mapEntryField(11, "k1", "a"), mapEntryField(11, "k2", "b"),
      lenField(12, "feat-a".getBytes("UTF-8")),
      lenField(12, "feat-b".getBytes("UTF-8")))
    message(
      lenField(1, message(
        stringField(1, "ev-1"), stringField(7, "t-42"),
        varintField(9, 3), varintField(10, 1))),
      lenField(2, tenant))
  }

  test("full TenantCreatedEvent decodes in one pass: nested, enums, maps, repeated") {
    graft.functions.Hashing.register(spark)
    val df = Seq(Tuple1(tenantCreatedBytes)).toDF("value")
    val row = df.select(
        ProtoSchemas.decodeSubject(col("value"), "nnipa.events.tenant.created-value").as("e"))
      .select("e.metadata.event_id", "e.metadata.priority",
        "e.metadata.retry_count", "e.tenant.name",
        "e.tenant.organization_type", "e.tenant.subscription_tier",
        "e.tenant.isolation_strategy", "e.tenant.is_active",
        "e.tenant.created_at", "e.tenant.contact_info.address.city",
        "e.tenant.contact_info.address.latitude", "e.tenant.settings",
        "e.tenant.enabled_features", "e.tenant.parent_tenant_id")
      .head()
    assert(row.getString(0) == "ev-1")
    assert(row.getString(1) == "PRIORITY_HIGH")
    assert(row.getInt(2) == 1)
    assert(row.getString(3) == "Acme")
    assert(row.getString(4) == "ORGANIZATION_TYPE_CORPORATION")
    assert(row.getString(5) == "TIER_ENTERPRISE")
    assert(row.getString(6) == "ISOLATION_DATABASE_ISOLATION")
    assert(row.getBoolean(7))
    assert(row.getAs[java.sql.Timestamp](8).getTime == 1704103200250L)
    assert(row.getString(9) == "Accra")
    assert(row.getDouble(10) == 5.6)
    assert(row.getAs[Map[String, String]](11) == Map("k1" -> "a", "k2" -> "b"))
    assert(row.getAs[scala.collection.Seq[String]](12).toSeq == Seq("feat-a", "feat-b"))
    assert(row.getString(13) == "")  // absent no-presence scalar -> proto3 default

    // a second frame: contact info with an e-mail, no envelope timestamp
    val other = message(
      lenField(1, stringField(1, "ev-2")),
      lenField(2, message(
        stringField(1, "t-1"), stringField(2, "Acme"), stringField(3, "acme.io"),
        varintField(4, 2), varintField(5, 4), varintField(6, 3), varintField(8, 1),
        timestampField(9, 1700000000L, 0),
        lenField(10, message(
          stringField(1, "a@acme.io"),
          lenField(5, message(
            stringField(2, "Berlin"), doubleField(6, 52.52), doubleField(7, 13.4))))),
        mapEntryField(11, "theme", "dark"),
        lenField(12, "sso".getBytes("UTF-8")),
        lenField(12, "audit".getBytes("UTF-8")))))
    val t = Seq(Tuple1(other)).toDF("value")
      .select(ProtoSchemas.decodeSubject(col("value"), "nnipa.events.tenant.created-value").as("e"))
      .select("e.tenant.*").head()
    assert(t.getAs[String]("organization_type") == "ORGANIZATION_TYPE_CORPORATION")
    assert(t.getAs[String]("subscription_tier") == "TIER_ENTERPRISE")
    assert(t.getAs[String]("isolation_strategy") == "ISOLATION_DATABASE_ISOLATION")
    assert(t.getAs[java.sql.Timestamp]("created_at").getTime == 1700000000000L)
    val c = t.getStruct(t.fieldIndex("contact_info"))
    assert(c.getAs[String]("email") == "a@acme.io")
    val a = c.getStruct(c.fieldIndex("address"))
    assert(a.getAs[String]("city") == "Berlin" && a.getAs[Double]("latitude") == 52.52)
    assert(a.getAs[Double]("longitude") == 13.4)
    assert(t.getAs[Map[String, String]]("settings") == Map("theme" -> "dark"))
    assert(t.getAs[scala.collection.Seq[String]]("enabled_features").toSeq == Seq("sso", "audit"))
  }

  test("presence semantics: absent message/timestamp/Any null, scalars default") {
    graft.functions.Hashing.register(spark)
    // bare metadata only — no tenant payload at all
    val sparse = message(lenField(1, stringField(1, "only-id")))
    val row = Seq(Tuple1(sparse)).toDF("value")
      .select(ProtoSchemas.decodeSubject(col("value"),
        "nnipa.events.tenant.created-value").as("e"))
      .select(col("e.metadata.event_id"), col("e.metadata.timestamp"),
        col("e.metadata.version"), col("e.metadata.priority"),
        col("e.metadata.headers"), col("e.tenant"))
      .head()
    assert(row.getString(0) == "only-id")
    assert(row.isNullAt(1), "absent Timestamp must be null (presence)")
    assert(row.getInt(2) == 0)
    assert(row.getString(3) == "PRIORITY_UNSPECIFIED")
    assert(row.getAs[Map[String, String]](4).isEmpty)
    assert(row.isNullAt(5), "absent nested message must be null (presence)")
  }

  test("AuditLogCommand: google.protobuf.Any decodes as (type_url, value)") {
    graft.functions.Hashing.register(spark)
    val payload = message(varintField(1, 99L))
    val anyMsg = message(
      stringField(1, "type.googleapis.com/com.nnipa.proto.common.ErrorDetail"),
      lenField(2, payload))
    val entry = message(
      stringField(1, "t-1"), stringField(3, "UPDATE"),
      lenField(6, anyMsg), stringField(8, "SUCCESS"),
      mapEntryField(11, "ip", "10.0.0.1"))
    val bytes = message(
      lenField(1, message(stringField(1, "ev-a"))),
      lenField(2, entry))
    val row = Seq(Tuple1(bytes)).toDF("value")
      .select(ProtoSchemas.decodeSubject(col("value"),
        "nnipa.commands.audit.log-value").as("e"))
      .select(col("e.entry.action"), col("e.entry.old_value.type_url"),
        col("e.entry.old_value.value"), col("e.entry.new_value"),
        col("e.entry.context"))
      .head()
    assert(row.getString(0) == "UPDATE")
    assert(row.getString(1).endsWith("ErrorDetail"))
    assert(row.getAs[Array[Byte]](2).sameElements(payload))
    assert(row.isNullAt(3), "absent Any must be null")
    assert(row.getAs[Map[String, String]](4) == Map("ip" -> "10.0.0.1"))

    // a second frame: no envelope, Any.value holding a nested message
    val packed = stringField(1, "payload")
    val bare = message(lenField(2, message(
      stringField(3, "UPDATE"),
      lenField(6, stringField(1, "type.example.com/Old") ++ lenField(2, packed)))))
    val e = Seq(Tuple1(bare)).toDF("value")
      .select(ProtoSchemas.decodeSubject(col("value"),
        "nnipa.commands.audit.log-value").as("e"))
      .select(col("e.metadata"), col("e.entry.old_value"), col("e.entry.new_value"))
      .head()
    assert(e.isNullAt(0), "absent envelope must be null")
    assert(e.getStruct(1).getAs[String]("type_url") == "type.example.com/Old")
    assert(e.getStruct(1).getAs[Array[Byte]]("value").sameElements(packed))
    assert(e.isNullAt(2), "absent Any must be null")
  }

  test("tenant.updated renders google.protobuf.Value fields as JSON") {
    graft.functions.Hashing.register(spark)
    // Value kinds: string, number, bool, null, nested struct, list
    val strVal = stringField(3, "hello")
    val numVal = doubleField(2, 42.0)
    val boolVal = varintField(4, 1)
    val nullVal = varintField(1, 0)
    val listVal = lenField(6, lenField(1, strVal) ++ lenField(1, numVal))
    val structVal = lenField(5,
      lenField(1, stringField(1, "inner") ++ lenField(2, boolVal)))
    def entry(k: String, value: Array[Byte]) =
      lenField(2, stringField(1, k) ++ lenField(2, value))
    val bytes = message(lenField(2, message(
      stringField(1, "t-9"),
      entry("s", strVal), entry("n", numVal), entry("b", boolVal),
      entry("z", nullVal), entry("l", listVal), entry("o", structVal),
      stringField(3, "admin"))))
    val row = Seq(Tuple1(bytes)).toDF("value")
      .select(ProtoSchemas.decodeSubject(col("value"),
        "nnipa.events.tenant.updated-value").as("e"))
      .select("e.update.*").head()
    val cf = row.getAs[Map[String, String]]("changed_fields")
    assert(cf("s") == "\"hello\"")
    assert(cf("n") == "42")
    assert(cf("b") == "true")
    assert(cf("z") == "null")
    assert(cf("l") == "[\"hello\",42]")
    assert(cf("o") == "{\"inner\":true}")
    assert(row.getAs[String]("updated_by") == "admin")
  }

  test("KafkaIO.decodeEventMetadata == ProtoSchemas.decodeSubject(...).metadata") {
    graft.functions.Hashing.register(spark)
    val shapes = Seq(
      tenantCreatedBytes,
      message(lenField(1, stringField(1, "only-id"))),
      message(lenField(1, message(
        stringField(1, "ev-z"), stringField(2, "corr"), stringField(3, "svc"),
        timestampField(4, 77L, 1000), varintField(5, 2),
        mapEntryField(6, "h", "v"), stringField(7, "t"), stringField(8, "u"),
        varintField(9, 4), varintField(10, 2)))),
      // no envelope at all: both sides read null
      message(lenField(2, message(stringField(1, "t-only")))))
    val rows = shapes.map(Tuple1(_)).toDF("value").select(
        ProtoSchemas.decodeSubject(col("value"), "nnipa.events.tenant.created-value")
          .getField("metadata").as("subject"),
        graft.io.KafkaIO.decodeEventMetadata(col("value")).as("envelope"))
      .collect()
    assert(rows.length == shapes.length)
    rows.foreach(r => assert(r.get(0) == r.get(1), s"envelope decodes diverged: $r"))
    assert(rows(1).getStruct(0).isNullAt(3), "absent Timestamp is null on both sides")
    assert(rows(3).isNullAt(0))
  }

  test("one protobuf decoder: the registered graft_proto_* functions are decode, decode_safe, encode") {
    val proto = graft.functions.Hashing.nativeFunctions.map(_._1)
      .filter(_.startsWith("graft_proto_"))
    assert(proto.sorted ==
      Seq("graft_proto_decode", "graft_proto_decode_safe", "graft_proto_encode"))
  }

  test("one protobuf decoder: no src/main file but ProtoSchemas calls a graft_proto_* function") {
    val call = """call_function\(\s*"graft_proto_""".r
    val callers = MainSources.all.collect {
      case (rel, src) if rel != "graft/schema/ProtoSchemas.scala" &&
        call.findFirstIn(src).isDefined => rel
    }
    assert(callers.isEmpty,
      "decode through graft.schema.ProtoSchemas, not a direct graft_proto_* call: " +
        callers.mkString(", "))
  }

  test("schema evolution at the WIRE level: old/new descriptors interoperate") {
    graft.functions.Hashing.register(spark)
    import ProtoStruct._
    // v2 adds a string and a usage long-map — the proto3-compatible
    // evolution shape (new field numbers, all optional)
    val v1 = ProtoSchemas.eventMetadata
    val v2 = v1 ++ Vector(PField(11, "region", KStr), PField(12, "usage", KLMap))
    // the catalog's FULL_TRANSITIVE gate accepts the same evolution the
    // wire level supports — schema system and decoder agree on what
    // "compatible" means
    val cat = new graft.schema.SchemaCatalog
    cat.register("evo-value", ProtoStruct.structOf(v1))
    cat.register("evo-value", ProtoStruct.structOf(v2))
    assert(cat.latestVersion("evo-value").contains(2))

    val oldBytes = message(stringField(1, "ev-old"), varintField(10, 2))
    val newBytes = message(stringField(1, "ev-new"), stringField(11, "eu-west"),
      longMapEntryField(12, "ingest", 44L))
    val df = Seq((1L, oldBytes), (2L, newBytes)).toDF("i", "value")
      .select(col("i"),
        ProtoSchemas.decode(col("value"), v1).as("as_v1"),
        ProtoSchemas.decode(col("value"), v2).as("as_v2"))
      .orderBy("i").collect()
    // old writer, new reader: added fields read as defaults
    val oldAsV2 = df(0).getStruct(2)
    assert(oldAsV2.getAs[String]("event_id") == "ev-old")
    assert(oldAsV2.getAs[String]("region") == "")
    assert(oldAsV2.getAs[Map[String, Long]]("usage").isEmpty)
    // new writer, old reader: unknown fields skipped, knowns intact
    val newAsV1 = df(1).getStruct(1)
    assert(newAsV1.getAs[String]("event_id") == "ev-new")
    assert(newAsV1.length == v1.length)
    // new writer, new reader: full surface
    val newAsV2 = df(1).getStruct(2)
    assert(newAsV2.getAs[String]("region") == "eu-west")
    assert(newAsV2.getAs[Map[String, Long]]("usage") == Map("ingest" -> 44L))
  }

  test("encode is decode's inverse: decode(encode(decode(b))) == decode(b)") {
    graft.functions.Hashing.register(spark)
    val subject = "nnipa.events.tenant.created-value"
    val spec = ProtoStruct.render(ProtoSchemas.tenantCreated)
    val shapes = Seq(
      tenantCreatedBytes,
      message(lenField(1, stringField(1, "only-id"))),
      message(lenField(1, message(stringField(1, "ev-d"), varintField(9, 4),
        mapEntryField(6, "k", "v")))))
    val df = shapes.map(Tuple1(_)).toDF("value")
      .select(ProtoSchemas.decodeSubject(col("value"), subject).as("d1"))
      .select(col("d1"),
        ProtoSchemas.decodeSubject(
          ProtoSchemas.encode(col("d1"), ProtoSchemas.tenantCreated),
          subject).as("d2"))
    df.collect().foreach { r =>
      assert(r.getStruct(0) == r.getStruct(1), "round-trip diverged")
    }
    // unknown enum name on the publish side must THROW, not coerce to 0
    val bad = spark.sql("SELECT named_struct('event_id', 'x') AS m")
    intercept[Exception] {
      bad.select(call_function("graft_proto_encode",
        expr("named_struct('priority', 'NOT_A_PRIORITY')"),
        lit("9:enum(A|B):priority"))).collect()
    }
  }

  test("SQL surface: graft_proto_decode with a literal spec string") {
    graft.functions.Hashing.register(spark)
    Seq(Tuple1(tenantCreatedBytes)).toDF("value").createOrReplaceTempView("wire")
    val got = spark.sql(
      """SELECT graft_proto_decode(value,
        |  '1:msg{1:str:event_id;9:enum(P0|P1|P2|P3|P4):prio}:meta').meta.prio AS p
        |FROM wire""".stripMargin).head().getString(0)
    assert(got == "P3")
  }
}
