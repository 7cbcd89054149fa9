package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Schema-driven ONE-PASS proto3 decode — the engine's only protobuf
  * decoder, equivalent in surface to the reference's decode-once
  * `DynamicMessage` path
  * (`config/KafkaConfig.java:107-114`): given a message descriptor, a
  * SINGLE forward scan of the wire bytes emits the whole Spark struct,
  * nested messages, maps, repeated fields, enums and `google.protobuf`
  * well-knowns included. Descriptors for the reference's 10 registry
  * subjects live in [[graft.schema.ProtoSchemas]]; their derived
  * `StructType`s are spec-pinned equal to the declared §1.2 schema system
  * (`schema/EventSchemas`).
  *
  * Decode semantics mirror proto3 + DynamicMessage:
  *   - no-presence scalars (string/int/bool/double/enum) default to
  *     "" / 0 / false / 0.0 / enum[0] when absent; last occurrence wins;
  *   - presence fields (message, Timestamp, Any, bytes) are null when
  *     absent;
  *   - maps and repeated fields accumulate across the scan (map merge:
  *     last entry per key wins), empty when absent;
  *   - unknown fields are skipped, and so is a field whose wire type does
  *     not match its declared kind.
  *
  * The descriptor rides in the expression as a compact spec string (the
  * `graft_proto_decode(value, '<spec>')` SQL surface), parsed once at
  * resolution; codegen embeds the PARSED descriptor via a reference
  * object, so the hot loop never re-parses the spec.
  */
object ProtoStruct {

  sealed trait PKind
  case object KStr extends PKind
  case object KI64 extends PKind
  case object KI32 extends PKind
  case object KBool extends PKind
  case object KF64 extends PKind
  /** google.protobuf.Timestamp → TimestampType (micros), null when absent. */
  case object KTs extends PKind
  case object KSMap extends PKind
  case object KLMap extends PKind
  /** map<string, google.protobuf.Value> → values as JSON text. */
  case object KVMap extends PKind
  case object KRStr extends PKind
  case object KBytes extends PKind
  /** google.protobuf.Any → struct(type_url STRING, value BINARY). */
  case object KAny extends PKind
  final case class KEnum(values: IndexedSeq[String]) extends PKind
  final case class KMsg(fields: IndexedSeq[PField]) extends PKind

  final case class PField(no: Int, name: String, kind: PKind)

  val anySchema: StructType = StructType(Seq(
    StructField("type_url", StringType, nullable = true),
    StructField("value", BinaryType, nullable = true)))

  def sparkTypeOf(kind: PKind): DataType = kind match {
    case KStr => StringType
    case KI64 => LongType
    case KI32 => IntegerType
    case KBool => BooleanType
    case KF64 => DoubleType
    case KTs => TimestampType
    case KSMap => MapType(StringType, StringType)
    case KLMap => MapType(StringType, LongType)
    case KVMap => MapType(StringType, StringType)
    case KRStr => ArrayType(StringType)
    case KBytes => BinaryType
    case KAny => anySchema
    case KEnum(_) => StringType
    case KMsg(fields) => structOf(fields)
  }

  /** All-nullable, like EventSchemas (proto3 presence is optional and
    * nullable-only keeps FULL_TRANSITIVE evolution open).
    */
  def structOf(fields: Seq[PField]): StructType =
    StructType(fields.map(f => StructField(f.name, sparkTypeOf(f.kind), nullable = true)))

  // ---- spec DSL: `no:kind:name` joined by ';'; nested = `no:msg{...}:name`,
  //      enums = `no:enum(A|B|C):name` ----

  def render(fields: Seq[PField]): String =
    fields.map { f =>
      val k = f.kind match {
        case KStr => "str"
        case KI64 => "i64"
        case KI32 => "i32"
        case KBool => "bool"
        case KF64 => "f64"
        case KTs => "ts"
        case KSMap => "smap"
        case KLMap => "lmap"
        case KVMap => "vmap"
        case KRStr => "rstr"
        case KBytes => "bytes"
        case KAny => "any"
        case KEnum(vs) => s"enum(${vs.mkString("|")})"
        case KMsg(fs) => s"msg{${render(fs)}}"
      }
      s"${f.no}:$k:${f.name}"
    }.mkString(";")

  /** Splits at `sep` occurrences that sit at zero brace/paren depth. */
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '{' | '(' => depth += 1
        case '}' | ')' => depth -= 1
        case c if c == sep && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().filter(_.nonEmpty)
  }

  def parse(spec: String): IndexedSeq[PField] =
    splitTop(spec, ';').map { f =>
      val parts = splitTop(f, ':')
      require(parts.length == 3, s"bad field spec: $f")
      val no = parts(0).trim.toInt
      val name = parts(2).trim
      val k = parts(1).trim
      val kind: PKind = k match {
        case "str" => KStr
        case "i64" => KI64
        case "i32" => KI32
        case "bool" => KBool
        case "f64" => KF64
        case "ts" => KTs
        case "smap" => KSMap
        case "lmap" => KLMap
        case "vmap" => KVMap
        case "rstr" => KRStr
        case "bytes" => KBytes
        case "any" => KAny
        case e if e.startsWith("enum(") && e.endsWith(")") =>
          KEnum(e.substring(5, e.length - 1).split('|').toIndexedSeq)
        case m if m.startsWith("msg{") && m.endsWith("}") =>
          KMsg(parse(m.substring(4, m.length - 1)))
        case other => throw new IllegalArgumentException(s"unknown kind: $other")
      }
      PField(no, name, kind)
    }.toIndexedSeq

  // ---- the one-pass decoder ----

  private def defaultFor(kind: PKind): Any = kind match {
    case KStr => UTF8String.EMPTY_UTF8
    case KI64 => 0L
    case KI32 => 0
    case KBool => false
    case KF64 => 0.0d
    case KEnum(vs) => UTF8String.fromString(vs.head)
    case KSMap | KLMap | KVMap =>
      ArrayBasedMapData(Array.empty[Any], Array.empty[Any])
    case KRStr => new GenericArrayData(Array.empty[Any])
    case KTs | KMsg(_) | KBytes | KAny => null
  }

  /** A message descriptor prepared for decoding, once per descriptor
    * and shared by every row: the field-number → slot table, the default
    * row, enum names as `UTF8String`s and the nested messages' layouts.
    * The default values are immutable, so rows may share them.
    */
  final class Layout(val fields: IndexedSeq[PField]) extends Serializable {
    val maxNo: Int = fields.foldLeft(0)((m, f) => math.max(m, f.no))
    val slot: Array[Int] = {
      val a = Array.fill(maxNo + 1)(-1)
      fields.indices.foreach(i => a(fields(i).no) = i)
      a
    }
    val defaults: Array[Any] = fields.map(f => defaultFor(f.kind)).toArray
    val enumNames: Array[Array[UTF8String]] = fields.map(_.kind match {
      case KEnum(vs) => vs.map(UTF8String.fromString).toArray
      case _ => null
    }).toArray
    val nested: Array[Layout] = fields.map(_.kind match {
      case KMsg(sub) => new Layout(sub)
      case _ => null
    }).toArray
  }

  /** Decodes `[from, end)` as a message laid out by `layout` in ONE
    * forward scan (nested messages recurse over their spans only).
    */
  def decodeMessage(bytes: Array[Byte], from: Int, end: Int,
                    layout: Layout): InternalRow = {
    val fields = layout.fields
    val n = fields.length
    val row = new GenericInternalRow(layout.defaults.clone())
    val maxNo = layout.maxNo
    val slot = layout.slot
    var i = 0

    // lazily-allocated accumulators for map/repeated fields
    var maps: Array[java.util.LinkedHashMap[UTF8String, Any]] = null
    var lists: Array[java.util.ArrayList[Any]] = null
    def mapAcc(idx: Int) = {
      if (maps == null) maps = new Array(n)
      if (maps(idx) == null) maps(idx) = new java.util.LinkedHashMap[UTF8String, Any]()
      maps(idx)
    }
    def listAcc(idx: Int) = {
      if (lists == null) lists = new Array(n)
      if (lists(idx) == null) lists(idx) = new java.util.ArrayList[Any]()
      lists(idx)
    }

    val out = new Array[Long](3)
    val pos = new Array[Int](1)
    var p = from
    while (p < end) {
      val tag = ProtoWire.readVarint(bytes, p, end, pos); p = pos(0)
      val f = (tag >>> 3).toInt
      val wt = (tag & 7).toInt
      val idx = if (f >= 0 && f <= maxNo) slot(f) else -1
      wt match {
        case 0 =>
          val v = ProtoWire.readVarint(bytes, p, end, pos); p = pos(0)
          if (idx >= 0) fields(idx).kind match {
            case KI64 => row.update(idx, v)
            case KI32 => row.update(idx, v.toInt)
            case KBool => row.update(idx, v != 0L)
            case KEnum(_) =>
              val names = layout.enumNames(idx)
              val e = v.toInt
              row.update(idx, if (e >= 0 && e < names.length) names(e) else names(0))
            case _ => // type mismatch on the wire: skip (unknown-field rule)
          }
        case 1 =>
          require(p + 8 <= end, "truncated fixed64")
          if (idx >= 0 && fields(idx).kind == KF64) {
            var bits = 0L
            var j = 0
            while (j < 8) { bits |= (bytes(p + j) & 0xffL) << (8 * j); j += 1 }
            row.update(idx, java.lang.Double.longBitsToDouble(bits))
          }
          p += 8
        case 2 =>
          val len = ProtoWire.readVarint(bytes, p, end, pos).toInt; p = pos(0)
          require(len >= 0 && len <= end - p, "truncated length-delimited field")
          if (idx >= 0) fields(idx).kind match {
            case KStr => row.update(idx, UTF8String.fromBytes(bytes, p, len))
            case KBytes =>
              row.update(idx, java.util.Arrays.copyOfRange(bytes, p, p + len))
            case KTs =>
              val secs = if (ProtoWire.scan(bytes, p, p + len, 1, out) && out(0) == 0) out(1) else 0L
              val nanos = if (ProtoWire.scan(bytes, p, p + len, 2, out) && out(0) == 0) out(1) else 0L
              row.update(idx, secs * 1000000L + nanos / 1000L)
            case KMsg(_) =>
              row.update(idx, decodeMessage(bytes, p, p + len, layout.nested(idx)))
            case KAny =>
              val any = new GenericInternalRow(2)
              any.update(0,
                if (ProtoWire.scan(bytes, p, p + len, 1, out) && out(0) == 2)
                  UTF8String.fromBytes(bytes, out(1).toInt, (out(2) - out(1)).toInt)
                else UTF8String.EMPTY_UTF8)
              any.update(1,
                if (ProtoWire.scan(bytes, p, p + len, 2, out) && out(0) == 2)
                  java.util.Arrays.copyOfRange(bytes, out(1).toInt, out(2).toInt)
                else null)
              row.update(idx, any)
            case KRStr => listAcc(idx).add(UTF8String.fromBytes(bytes, p, len))
            case KSMap | KLMap | KVMap =>
              val k = if (ProtoWire.scan(bytes, p, p + len, 1, out) && out(0) == 2)
                UTF8String.fromBytes(bytes, out(1).toInt, (out(2) - out(1)).toInt)
              else UTF8String.EMPTY_UTF8
              val v: Any = fields(idx).kind match {
                case KSMap =>
                  if (ProtoWire.scan(bytes, p, p + len, 2, out) && out(0) == 2)
                    UTF8String.fromBytes(bytes, out(1).toInt, (out(2) - out(1)).toInt)
                  else UTF8String.EMPTY_UTF8
                case KLMap =>
                  if (ProtoWire.scan(bytes, p, p + len, 2, out) && out(0) == 0) out(1) else 0L
                case _ =>
                  if (ProtoWire.scan(bytes, p, p + len, 2, out) && out(0) == 2)
                    UTF8String.fromString(
                      ProtoWire.valueToJson(bytes, out(1).toInt, out(2).toInt))
                  else UTF8String.fromString("null")
              }
              mapAcc(idx).put(k, v)
            case _ => // wire/declared mismatch: skip
          }
          p += len
        case 5 =>
          require(p + 4 <= end, "truncated fixed32")
          p += 4
        case other =>
          throw new IllegalArgumentException(s"unsupported wire type $other")
      }
    }
    if (maps != null) {
      i = 0
      while (i < n) {
        if (maps(i) != null) {
          val ks = new Array[Any](maps(i).size())
          val vs = new Array[Any](maps(i).size())
          val it = maps(i).entrySet().iterator()
          var j = 0
          while (it.hasNext) { val e = it.next(); ks(j) = e.getKey; vs(j) = e.getValue; j += 1 }
          row.update(i, ArrayBasedMapData(ks, vs))
        }
        i += 1
      }
    }
    if (lists != null) {
      i = 0
      while (i < n) {
        if (lists(i) != null)
          row.update(i, new GenericArrayData(lists(i).toArray))
        i += 1
      }
    }
    row
  }

  /** Entry point referenced by both eval paths. */
  def decode(bytes: Array[Byte], layout: Layout): InternalRow =
    decodeMessage(bytes, 0, bytes.length, layout)

  /** Poison-pill-tolerant [[decode]]: corrupt bytes → NULL, not an
    * exception (E7 / ErrorHandlingDeserializer contract).
    */
  def decodeSafe(bytes: Array[Byte], layout: Layout): InternalRow =
    try decode(bytes, layout)
    catch { case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException => null }

  // ---- the descriptor-driven encoder (the publish side) ----

  private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    var continue = true
    while (continue) {
      val b = (v & 0x7fL).toInt
      v = v >>> 7
      if (v == 0) { out.write(b); continue = false }
      else out.write(b | 0x80)
    }
  }

  private def writeTag(out: java.io.ByteArrayOutputStream, no: Int, wt: Int): Unit =
    writeVarint(out, (no.toLong << 3) | wt)

  private def writeLen(out: java.io.ByteArrayOutputStream, no: Int,
                       payload: Array[Byte]): Unit = {
    writeTag(out, no, 2)
    writeVarint(out, payload.length.toLong)
    out.write(payload)
  }

  private def writeString(out: java.io.ByteArrayOutputStream, no: Int,
                          s: UTF8String): Unit =
    writeLen(out, no, s.getBytes)

  private def tsPayload(micros: Long): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream(16)
    writeTag(b, 1, 0); writeVarint(b, Math.floorDiv(micros, 1000000L))
    writeTag(b, 2, 0); writeVarint(b, Math.floorMod(micros, 1000000L) * 1000L)
    b.toByteArray
  }

  /** Serialize a Spark struct (fields in descriptor order) to proto3 wire
    * bytes — the inverse of [[decode]], matching protobuf-java's emission
    * rules: no-presence scalars at their default ("" / 0 / false / 0.0 /
    * enum[0]) are SKIPPED; null presence fields (message, Timestamp, Any,
    * bytes) are skipped; maps/repeated emit one entry per element in
    * row order. Round-trip `decode(encode(row)) == row` is spec-pinned
    * (defaults are unobservable on the decode side by construction).
    * Unknown enum names throw — silent index-0 coercion would corrupt
    * data on the PUBLISH side.
    */
  def encodeMessage(row: InternalRow, fields: IndexedSeq[PField]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      if (!row.isNullAt(i)) f.kind match {
        case KStr =>
          val s = row.getUTF8String(i)
          if (s.numBytes() > 0) writeString(out, f.no, s)
        case KI64 =>
          val v = row.getLong(i)
          if (v != 0L) { writeTag(out, f.no, 0); writeVarint(out, v) }
        case KI32 =>
          val v = row.getInt(i)
          if (v != 0) { writeTag(out, f.no, 0); writeVarint(out, v.toLong) }
        case KBool =>
          if (row.getBoolean(i)) { writeTag(out, f.no, 0); writeVarint(out, 1L) }
        case KF64 =>
          val v = row.getDouble(i)
          // bit-pattern gate, not `v != 0.0d`: -0.0 == 0.0 numerically but
          // protobuf-java serializes -0.0 (doubleToRawLongBits != 0)
          if (java.lang.Double.doubleToRawLongBits(v) != 0L) {
            writeTag(out, f.no, 1)
            val bits = java.lang.Double.doubleToLongBits(v)
            var j = 0
            while (j < 8) { out.write(((bits >>> (8 * j)) & 0xff).toInt); j += 1 }
          }
        case KEnum(vs) =>
          val name = row.getUTF8String(i).toString
          val idx = vs.indexOf(name)
          require(idx >= 0, s"unknown enum name '$name' for field ${f.name}")
          if (idx != 0) { writeTag(out, f.no, 0); writeVarint(out, idx.toLong) }
        case KTs =>
          writeLen(out, f.no, tsPayload(row.getLong(i)))
        case KMsg(sub) =>
          writeLen(out, f.no, encodeMessage(row.getStruct(i, sub.length), sub))
        case KBytes =>
          writeLen(out, f.no, row.getBinary(i))
        case KAny =>
          val any = row.getStruct(i, 2)
          val b = new java.io.ByteArrayOutputStream(32)
          if (!any.isNullAt(0) && any.getUTF8String(0).numBytes() > 0)
            writeString(b, 1, any.getUTF8String(0))
          if (!any.isNullAt(1)) writeLen(b, 2, any.getBinary(1))
          writeLen(out, f.no, b.toByteArray)
        case KRStr =>
          val arr = row.getArray(i)
          var j = 0
          while (j < arr.numElements()) {
            writeString(out, f.no, arr.getUTF8String(j)); j += 1
          }
        case KSMap | KLMap =>
          val m = row.getMap(i)
          val ks = m.keyArray()
          val vs = m.valueArray()
          var j = 0
          while (j < m.numElements()) {
            val entry = new java.io.ByteArrayOutputStream(32)
            writeString(entry, 1, ks.getUTF8String(j))
            if (f.kind == KSMap) writeString(entry, 2, vs.getUTF8String(j))
            else { writeTag(entry, 2, 0); writeVarint(entry, vs.getLong(j)) }
            writeLen(out, f.no, entry.toByteArray)
            j += 1
          }
        case KVMap =>
          // values arrive as the JSON text the decode side produces; each
          // is parsed back into google.protobuf.Value wire bytes
          // (ProtoWire.jsonToValue — strict, malformed JSON throws)
          val m = row.getMap(i)
          val ks = m.keyArray()
          val vs = m.valueArray()
          var j = 0
          while (j < m.numElements()) {
            // a null map VALUE (legal in Spark MapType) is JSON null, i.e.
            // Value{null_value: NULL_VALUE} — not an NPE (DLQ routing
            // catches the codec's IllegalArgumentException, never NPE)
            val valueBytes =
              if (vs.isNullAt(j)) ProtoWire.varintField(1, 0L)
              else ProtoWire.jsonToValue(vs.getUTF8String(j).toString)
            writeLen(out, f.no, ProtoWire.message(
              ProtoWire.stringField(1, ks.getUTF8String(j).toString),
              ProtoWire.lenField(2, valueBytes)))
            j += 1
          }
      }
      i += 1
    }
    out.toByteArray
  }
}

/** `graft_proto_decode(value, '<spec>')`: schema-driven one-pass decode of
  * a whole proto3 message into its Spark struct. The spec must be a
  * foldable string (it defines the result type).
  */
final case class ProtoDecodeExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, StringType)

  @transient private lazy val layout: ProtoStruct.Layout = {
    require(right.foldable, "graft_proto_decode spec must be a literal")
    new ProtoStruct.Layout(
      ProtoStruct.parse(right.eval().asInstanceOf[UTF8String].toString))
  }

  override def dataType: DataType = ProtoStruct.structOf(layout.fields)

  override def nullSafeEval(b: Any, _spec: Any): Any =
    ProtoStruct.decode(b.asInstanceOf[Array[Byte]], layout)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // embed the PREPARED layout once; the generated loop never touches
    // the spec string again
    val ref = ctx.addReferenceObj("protoLayout", layout)
    defineCodeGen(ctx, ev, (b, _) => s"graft.functions.ProtoStruct.decode($b, $ref)")
  }

  override def prettyName: String = "graft_proto_decode"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `graft_proto_encode(struct, '<spec>')`: serialize a Spark struct to
  * proto3 wire bytes under a message descriptor — the publish-side
  * inverse of `graft_proto_decode` (default-skipping emission, the
  * protobuf-java rule).
  */
final case class ProtoEncodeExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  @transient private lazy val fields: IndexedSeq[ProtoStruct.PField] = {
    require(right.foldable, "graft_proto_encode spec must be a literal")
    ProtoStruct.parse(right.eval().asInstanceOf[UTF8String].toString)
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val want = ProtoStruct.structOf(fields)
    if (org.apache.spark.sql.types.DataType.equalsIgnoreNullability(left.dataType, want))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_proto_encode input must be ${want.simpleString}, got ${left.dataType.simpleString}")
  }

  override def dataType: DataType = BinaryType

  override def nullSafeEval(row: Any, _spec: Any): Any =
    ProtoStruct.encodeMessage(row.asInstanceOf[InternalRow], fields)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("protoFields", fields,
      "scala.collection.immutable.IndexedSeq")
    defineCodeGen(ctx, ev, (r, _) => s"graft.functions.ProtoStruct.encodeMessage($r, $ref)")
  }

  override def prettyName: String = "graft_proto_encode"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `graft_proto_decode_safe(value, '<spec>')`: [[ProtoDecodeExpr]] with
  * the E7 poison-pill contract — corrupt bytes yield NULL.
  */
final case class ProtoDecodeSafeExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, StringType)

  @transient private lazy val layout: ProtoStruct.Layout = {
    require(right.foldable, "graft_proto_decode_safe spec must be a literal")
    new ProtoStruct.Layout(
      ProtoStruct.parse(right.eval().asInstanceOf[UTF8String].toString))
  }

  override def dataType: DataType = ProtoStruct.structOf(layout.fields)
  override def nullable: Boolean = true

  override def nullSafeEval(b: Any, _spec: Any): Any =
    ProtoStruct.decodeSafe(b.asInstanceOf[Array[Byte]], layout)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("protoLayout", layout)
    // nullSafeCodeGen: the call may return null on corrupt bytes
    nullSafeCodeGen(ctx, ev, (b, _) => s"""
      ${ev.value} = graft.functions.ProtoStruct.decodeSafe($b, $ref);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }

  override def prettyName: String = "graft_proto_decode_safe"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
