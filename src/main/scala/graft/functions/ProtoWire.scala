package graft.functions

import org.apache.spark.sql.catalyst.InternalRow

/** proto3 wire-format primitives, built directly on the PUBLIC wire spec
  * (protobuf.dev encoding docs: varint tags `(field_no << 3) | wire_type`,
  * types 0=varint, 1=fixed64, 2=length-delimited, 5=fixed32).
  * `spark-protobuf`/`protobuf-java` are not on the classpath, so the
  * engine carries its own codec:
  *   - encoders for hand-built frames (fixtures, specs, benchmarks);
  *   - the bounds-checked [[readVarint]] / [[scan]] primitives that
  *     [[ProtoStruct.decodeMessage]] — the engine's ONE protobuf decoder,
  *     descriptor-driven, behind `graft_proto_decode[_safe]` — runs on;
  *   - `google.protobuf.Value` <-> JSON text, the §1.2 mapping of
  *     `map<string, Value>` fields, both directions.
  *
  * A truncated varint or length, or an unknown wire type, throws
  * IllegalArgumentException, which the `_safe` decode turns into NULL.
  * Compose with `KafkaIO.stripConfluentProtobufPrefix` for Confluent-
  * framed values.
  */
object ProtoWire {

  // ---- encode helpers (spec round-trips + offline fixture building) ----

  def varintBytes(v0: Long): Array[Byte] = {
    var v = v0
    val out = new java.io.ByteArrayOutputStream(10)
    var continue = true
    while (continue) {
      val b = (v & 0x7fL).toInt
      v = v >>> 7
      if (v == 0) { out.write(b); continue = false }
      else out.write(b | 0x80)
    }
    out.toByteArray
  }

  private def tagBytes(fieldNo: Int, wireType: Int): Array[Byte] =
    varintBytes(((fieldNo.toLong) << 3) | wireType)

  def varintField(fieldNo: Int, v: Long): Array[Byte] =
    tagBytes(fieldNo, 0) ++ varintBytes(v)

  def lenField(fieldNo: Int, payload: Array[Byte]): Array[Byte] =
    tagBytes(fieldNo, 2) ++ varintBytes(payload.length.toLong) ++ payload

  def stringField(fieldNo: Int, s: String): Array[Byte] =
    lenField(fieldNo, s.getBytes("UTF-8"))

  /** google.protobuf.Timestamp message: {1: seconds, 2: nanos}. */
  def timestampField(fieldNo: Int, seconds: Long, nanos: Int): Array[Byte] =
    lenField(fieldNo, varintField(1, seconds) ++ varintField(2, nanos.toLong))

  /** fixed64 double field (IEEE-754 little-endian). */
  def doubleField(fieldNo: Int, v: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(v)
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((bits >>> (8 * i)) & 0xff).toByte; i += 1 }
    tagBytes(fieldNo, 1) ++ b
  }

  /** One `map<string,string>` entry: a repeated `{1: key, 2: value}`. */
  def mapEntryField(fieldNo: Int, k: String, v: String): Array[Byte] =
    lenField(fieldNo, stringField(1, k) ++ stringField(2, v))

  /** One `map<string,int64>` entry: a repeated `{1: key, 2: varint}`
    * (the usage-breakdown shape, reference `commands.proto:149`).
    */
  def longMapEntryField(fieldNo: Int, k: String, v: Long): Array[Byte] =
    lenField(fieldNo, stringField(1, k) ++ varintField(2, v))

  def message(fields: Array[Byte]*): Array[Byte] =
    fields.foldLeft(Array.emptyByteArray)(_ ++ _)

  // ---- decode primitives ----

  /** Reads a varint at `p`; returns the value and writes the next position
    * into `posOut(0)`.
    */
  private[functions] def readVarint(b: Array[Byte], p0: Int, end: Int, posOut: Array[Int]): Long = {
    var v = 0L
    var shift = 0
    var p = p0
    while (p < end) {
      val x = b(p) & 0xff
      v |= (x & 0x7fL) << shift
      p += 1
      if ((x & 0x80) == 0) { posOut(0) = p; return v }
      shift += 7
      if (shift > 63) throw new IllegalArgumentException("varint too long")
    }
    throw new IllegalArgumentException("truncated varint")
  }

  /** Scans [from, end) for `fieldNo`. On a hit writes the span into
    * `out = [kind, a, b]`: kind 0 = varint (a = value), kind 2 =
    * length-delimited (a = start, b = end). Last occurrence wins
    * (proto3 merge). Returns false when absent.
    */
  private[functions] def scan(bytes: Array[Byte], from: Int, end: Int, fieldNo: Int,
                   out: Array[Long]): Boolean = {
    val pos = new Array[Int](1)
    var p = from
    var found = false
    while (p < end) {
      val tag = readVarint(bytes, p, end, pos); p = pos(0)
      val f = (tag >>> 3).toInt
      val wt = (tag & 7).toInt
      wt match {
        case 0 =>
          val v = readVarint(bytes, p, end, pos); p = pos(0)
          if (f == fieldNo) { out(0) = 0; out(1) = v; found = true }
        case 1 =>
          require(p + 8 <= end, "truncated fixed64")
          if (f == fieldNo) { out(0) = 1; out(1) = p.toLong; out(2) = (p + 8).toLong; found = true }
          p += 8
        case 2 =>
          val len = readVarint(bytes, p, end, pos).toInt; p = pos(0)
          require(len >= 0 && len <= end - p, "truncated length-delimited field")
          if (f == fieldNo) { out(0) = 2; out(1) = p.toLong; out(2) = (p + len).toLong; found = true }
          p += len
        case 5 =>
          require(p + 4 <= end, "truncated fixed32")
          if (f == fieldNo) { out(0) = 5; out(1) = p.toLong; out(2) = (p + 4).toLong; found = true }
          p += 4
        case other =>
          throw new IllegalArgumentException(s"unsupported wire type $other")
      }
    }
    found
  }

  /** Walks the fields of [from, end) once, in wire order, calling
    * `visit(fieldNo, wireType, a, b)`: a varint passes its value as `a`,
    * every other wire type its payload span [a, b).
    */
  private def foreachField(bytes: Array[Byte], from: Int, end: Int)(
      visit: (Int, Int, Long, Long) => Unit): Unit = {
    val pos = new Array[Int](1)
    var p = from
    while (p < end) {
      val tag = readVarint(bytes, p, end, pos); p = pos(0)
      val f = (tag >>> 3).toInt
      (tag & 7).toInt match {
        case 0 =>
          val v = readVarint(bytes, p, end, pos); p = pos(0)
          visit(f, 0, v, 0L)
        case 1 =>
          require(p + 8 <= end, "truncated fixed64")
          visit(f, 1, p.toLong, (p + 8).toLong); p += 8
        case 2 =>
          val len = readVarint(bytes, p, end, pos).toInt; p = pos(0)
          require(len >= 0 && len <= end - p, "truncated length-delimited field")
          visit(f, 2, p.toLong, (p + len).toLong); p += len
        case 5 =>
          require(p + 4 <= end, "truncated fixed32")
          visit(f, 5, p.toLong, (p + 4).toLong); p += 4
        case other => throw new IllegalArgumentException(s"unsupported wire type $other")
      }
    }
  }

  /** `google.protobuf.Value` (struct.proto) rendered as JSON text — the
    * §1.2 mapping for `map<string, Value>` fields (the arbitrary-JSON
    * case) and the public round-trip counterpart of [[jsonToValue]].
    * Handles every Value kind: null_value(1), number_value(2),
    * string_value(3), bool_value(4), struct_value(5), list_value(6),
    * recursing through Struct.fields entries and ListValue.values.
    */
  def valueToJson(bytes: Array[Byte]): String = valueToJson(bytes, 0, bytes.length)

  private[functions] def valueToJson(bytes: Array[Byte], from: Int, end: Int): String =
    valueToJson(bytes, from, end, 0)

  private def valueToJson(bytes: Array[Byte], from: Int, end: Int, depth: Int): String = {
    require(depth <= MaxValueDepth, s"Value nesting deeper than $MaxValueDepth")
    // later-set kind wins (proto3 oneof merge): take the LAST present tag
    var kind = -1
    var a = 0L; var b = 0L
    foreachField(bytes, from, end) { (f, wt, x, y) =>
      val hit = wt match {
        case 0 => f == 1 || f == 4
        case 1 => f == 2
        case 2 => f == 3 || f == 5 || f == 6
        case _ => false
      }
      if (hit) { kind = f; a = x; b = y }
    }
    kind match {
      case -1 | 1 => "null"
      case 2 =>
        var bits = 0L
        var i = 0
        while (i < 8) { bits |= (bytes(a.toInt + i) & 0xffL) << (8 * i); i += 1 }
        val d = java.lang.Double.longBitsToDouble(bits)
        if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString
        else d.toString
      case 3 => jsonQuote(new String(bytes, a.toInt, (b - a).toInt, "UTF-8"))
      case 4 => if (a != 0L) "true" else "false"
      case 5 => // Struct: repeated FieldsEntry {1: key, 2: Value}
        val out = new Array[Long](3)
        val sb = new java.lang.StringBuilder("{")
        foreachField(bytes, a.toInt, b.toInt) { (f, wt, x, y) =>
          if (f == 1 && wt == 2) {
            val k = if (scan(bytes, x.toInt, y.toInt, 1, out) && out(0) == 2)
              new String(bytes, out(1).toInt, (out(2) - out(1)).toInt, "UTF-8") else ""
            val v = if (scan(bytes, x.toInt, y.toInt, 2, out) && out(0) == 2)
              valueToJson(bytes, out(1).toInt, out(2).toInt, depth + 1) else "null"
            if (sb.length > 1) sb.append(',')
            sb.append(jsonQuote(k)).append(':').append(v)
          }
        }
        sb.append('}').toString
      case 6 => // ListValue: repeated Value
        val sb = new java.lang.StringBuilder("[")
        foreachField(bytes, a.toInt, b.toInt) { (f, wt, x, y) =>
          if (f == 1 && wt == 2) {
            if (sb.length > 1) sb.append(',')
            sb.append(valueToJson(bytes, x.toInt, y.toInt, depth + 1))
          }
        }
        sb.append(']').toString
    }
  }

  /** Inverse of [[valueToJson]]: parse one JSON document into
    * `google.protobuf.Value` wire bytes (struct.proto oneof — null_value=1
    * varint, number_value=2 fixed64 double, string_value=3, bool_value=4
    * varint, struct_value=5 Struct{map entries}, list_value=6
    * ListValue{repeated Value}). The oneof field is always emitted (oneof
    * presence), so `false`/`null`/`0` survive the round trip. Strict:
    * malformed JSON or trailing characters throw IllegalArgumentException
    * — on the PUBLISH side silent coercion would corrupt data (the same
    * rule as unknown enum names in encodeMessage).
    */
  def jsonToValue(s: String): Array[Byte] = {
    val pos = new Array[Int](1)
    val v = parseJsonValue(s, pos, 0)
    skipWs(s, pos)
    require(pos(0) == s.length, s"trailing characters at offset ${pos(0)}")
    v
  }

  /** Both Value recursions (parse and print) stop here: a crafted
    * deeply-nested input must throw the documented
    * IllegalArgumentException (DLQ-routable through the _safe decoders),
    * never StackOverflowError — an Error escapes every poison-pill catch
    * and kills the executor thread. protobuf-java's own default is 100.
    */
  private val MaxValueDepth = 64

  private def skipWs(s: String, pos: Array[Int]): Unit = {
    var i = pos(0)
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' ||
      s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    pos(0) = i
  }

  // RFC 8259 number grammar: int frac? exp?
  private val JsonNumber =
    java.util.regex.Pattern.compile("-?(?:0|[1-9][0-9]*)(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?")

  private def expectWord(s: String, pos: Array[Int], w: String): Unit = {
    require(s.regionMatches(pos(0), w, 0, w.length), s"malformed JSON at ${pos(0)}")
    pos(0) += w.length
  }

  private def parseJsonValue(s: String, pos: Array[Int], depth: Int): Array[Byte] = {
    require(depth <= MaxValueDepth, s"JSON nesting deeper than $MaxValueDepth")
    skipWs(s, pos)
    require(pos(0) < s.length, "unexpected end of JSON")
    s.charAt(pos(0)) match {
      case '"' => stringField(3, parseJsonString(s, pos))
      case 't' => expectWord(s, pos, "true"); varintField(4, 1L)
      case 'f' => expectWord(s, pos, "false"); varintField(4, 0L)
      case 'n' => expectWord(s, pos, "null"); varintField(1, 0L)
      case '{' =>
        pos(0) += 1
        val parts = new java.util.ArrayList[Array[Byte]]()
        skipWs(s, pos)
        if (pos(0) < s.length && s.charAt(pos(0)) == '}') pos(0) += 1
        else {
          var more = true
          while (more) {
            skipWs(s, pos)
            require(pos(0) < s.length && s.charAt(pos(0)) == '"', "expected object key")
            val k = parseJsonString(s, pos)
            skipWs(s, pos)
            require(pos(0) < s.length && s.charAt(pos(0)) == ':', "expected ':'")
            pos(0) += 1
            val v = parseJsonValue(s, pos, depth + 1)
            parts.add(lenField(1, message(stringField(1, k), lenField(2, v))))
            skipWs(s, pos)
            require(pos(0) < s.length, "unterminated object")
            s.charAt(pos(0)) match {
              case ',' => pos(0) += 1
              case '}' => pos(0) += 1; more = false
              case c => throw new IllegalArgumentException(s"unexpected '$c' in object")
            }
          }
        }
        lenField(5, message(parts.toArray(Array.empty[Array[Byte]]): _*))
      case '[' =>
        pos(0) += 1
        val parts = new java.util.ArrayList[Array[Byte]]()
        skipWs(s, pos)
        if (pos(0) < s.length && s.charAt(pos(0)) == ']') pos(0) += 1
        else {
          var more = true
          while (more) {
            parts.add(lenField(1, parseJsonValue(s, pos, depth + 1)))
            skipWs(s, pos)
            require(pos(0) < s.length, "unterminated array")
            s.charAt(pos(0)) match {
              case ',' => pos(0) += 1
              case ']' => pos(0) += 1; more = false
              case c => throw new IllegalArgumentException(s"unexpected '$c' in array")
            }
          }
        }
        lenField(6, message(parts.toArray(Array.empty[Array[Byte]]): _*))
      case _ =>
        val start = pos(0)
        var i = pos(0)
        if (i < s.length && s.charAt(i) == '-') i += 1
        while (i < s.length && {
          val c = s.charAt(i)
          (c >= '0' && c <= '9') || c == '.' || c == 'e' || c == 'E' || c == '+' || c == '-'
        }) i += 1
        require(i > start && i > pos(0), s"malformed JSON at ${pos(0)}")
        val tok = s.substring(start, i)
        // strict JSON number grammar — Double.parseDouble alone tolerates
        // non-JSON forms (".5", "5.", "+5", hex), which would let
        // non-canonical text silently encode instead of throwing
        require(JsonNumber.matcher(tok).matches(), s"malformed JSON number '$tok'")
        pos(0) = i
        doubleField(2, java.lang.Double.parseDouble(tok))
    }
  }

  private def parseJsonString(s: String, pos: Array[Int]): String = {
    require(s.charAt(pos(0)) == '"', "expected string")
    val sb = new java.lang.StringBuilder()
    var i = pos(0) + 1
    var closed = false
    while (!closed) {
      require(i < s.length, "unterminated string")
      s.charAt(i) match {
        case '"' => closed = true; i += 1
        case '\\' =>
          require(i + 1 < s.length, "unterminated escape")
          s.charAt(i + 1) match {
            case '"'  => sb.append('"');  i += 2
            case '\\' => sb.append('\\'); i += 2
            case '/'  => sb.append('/');  i += 2
            case 'n'  => sb.append('\n'); i += 2
            case 'r'  => sb.append('\r'); i += 2
            case 't'  => sb.append('\t'); i += 2
            case 'b'  => sb.append('\b'); i += 2
            case 'f'  => sb.append('\f'); i += 2
            case 'u'  =>
              require(i + 6 <= s.length, "truncated \\u escape")
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case c => throw new IllegalArgumentException(s"bad escape '\\$c'")
          }
        case c if c < 0x20 =>
          // raw control characters are illegal inside a JSON string
          // (RFC 8259 §7) — they must arrive escaped
          throw new IllegalArgumentException(
            f"raw control character U+${c.toInt}%04X in JSON string")
        case c => sb.append(c); i += 1
      }
    }
    pos(0) = i
    sb.toString
  }

  private def jsonQuote(s: String): String = {
    val sb = new java.lang.StringBuilder("\"")
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"').toString
  }

  private lazy val envelopeLayout =
    new ProtoStruct.Layout(graft.schema.ProtoSchemas.envelope)

  /** The EventMetadata envelope of one wire frame as its 10-field row
    * (`ProtoSchemas.eventMetadata` order), or null when the bytes are
    * corrupt or carry no envelope: [[ProtoStruct.decodeSafe]] under the
    * `ProtoSchemas.envelope` descriptor, for callers outside a Spark plan.
    */
  def eventMetadataStructSafe(bytes: Array[Byte]): InternalRow = {
    val row = ProtoStruct.decodeSafe(bytes, envelopeLayout)
    if (row == null) null
    else row.getStruct(0, graft.schema.ProtoSchemas.eventMetadata.length)
  }
}
