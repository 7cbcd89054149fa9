package graft

import graft.functions.ProtoStruct
import graft.functions.ProtoStruct._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Descriptor-fuzz property for the generic proto codec: over RANDOM
  * message descriptors (every kind, nesting to depth 2) and random rows,
  * `encode ∘ decode ∘ encode == encode` byte-for-byte. This is the
  * canonical-form idempotence property: the first encode normalizes
  * (default-skipping, map key dedup is precluded by construction), decode
  * must read back exactly what was written, and the second encode must
  * reproduce the bytes — any asymmetry anywhere in the codec breaks it.
  * Pure kernel test, no Spark session.
  */
class ProtoCodecFuzzSpec extends AnyFunSuite {

  private val enumVals = Vector("E0", "E1", "E2", "E3")

  private def genKind(depth: Int): Gen[PKind] = {
    val scalars = Seq(
      Gen.const(KStr), Gen.const(KI64), Gen.const(KI32), Gen.const(KBool),
      Gen.const(KF64), Gen.const(KTs), Gen.const(KSMap), Gen.const(KLMap),
      Gen.const(KRStr), Gen.const(KBytes), Gen.const(KAny),
      Gen.const(KEnum(enumVals)))
    val all = if (depth <= 0) scalars
              else scalars :+ genFields(depth - 1).map(KMsg(_))
    Gen.choose(0, all.length - 1).flatMap(all(_))
  }

  private def genFields(depth: Int): Gen[IndexedSeq[PField]] = for {
    n <- Gen.chooseNum(1, 5)
    nos <- Gen.pick(n, 1 to 15)
    kinds <- Gen.sequence[Vector[PKind], PKind](Vector.fill(n)(genKind(depth)))
  } yield nos.toVector.sorted.zip(kinds).zipWithIndex.map {
    case ((no, k), i) => PField(no, s"f$i", k)
  }

  private def genValue(kind: PKind): Gen[Any] = kind match {
    case KStr => Gen.oneOf("", "x", "hello world", "Ωδü").map(UTF8String.fromString)
    case KI64 => Gen.oneOf(0L, 1L, 300L, Long.MaxValue)
    case KI32 => Gen.oneOf(0, 1, -0 + 7, Int.MaxValue)
    case KBool => Gen.oneOf(true, false)
    case KF64 => Gen.oneOf(0.0d, -0.0d, -1.5d, 3.25e10d)
    case KTs => Gen.oneOf(Gen.const(null),
      Gen.chooseNum(0L, 4102444800L).map(_ * 1000000L + 250000L))
    case KEnum(vs) => Gen.chooseNum(0, vs.length - 1).map(i => UTF8String.fromString(vs(i)))
    case KBytes => Gen.oneOf(Gen.const(null),
      Gen.listOf(Gen.chooseNum(-128, 127)).map(_.map(_.toByte).toArray))
    case KAny => Gen.oneOf(Gen.const(null),
      Gen.zip(Gen.oneOf("", "type/x"), Gen.oneOf(Seq(1, 2).map(_.toByte)))
        .map { case (u, b) =>
          val r = new GenericInternalRow(2)
          r.update(0, UTF8String.fromString(u))
          r.update(1, Array(b))
          r
        })
    case KRStr => Gen.listOf(Gen.oneOf("", "a", "bb"))
      .map(l => new GenericArrayData(l.map(UTF8String.fromString).toArray[Any]))
    case KSMap => Gen.someOf(Seq("k1", "k2", "k3")).map { ks =>
      ArrayBasedMapData(
        ks.map(UTF8String.fromString).toArray[Any],
        ks.map(k => UTF8String.fromString(s"v-$k")).toArray[Any])
    }
    case KLMap => Gen.someOf(Seq("a", "b")).map { ks =>
      ArrayBasedMapData(
        ks.map(UTF8String.fromString).toArray[Any],
        ks.map(k => k.length.toLong * 100L).toArray[Any])
    }
    case KMsg(sub) => Gen.oneOf(Gen.const(null), genRow(sub))
    case KVMap =>
      // JSON values in valueToJson's CANONICAL print form (compact, longs
      // for integral numbers, jsonQuote escapes), so
      // decode(encode(row)) == row holds exactly
      val leaf = Gen.oneOf(
        Gen.const("null"), Gen.const("true"), Gen.const("false"),
        Gen.chooseNum(-1000000L, 1000000L).map(_.toString),
        Gen.oneOf("1.5", "-2.25", "0.001"),
        Gen.oneOf("\"\"", "\"x\"", "\"a\\nb\"", "\"q\\\"w\"", "\"Ωδ\""))
      val nested = Gen.oneOf(
        leaf,
        Gen.listOfN(2, leaf).map(_.mkString("[", ",", "]")),
        Gen.listOfN(2, leaf).map(vs =>
          vs.zipWithIndex.map { case (v, i) => s""""k$i":$v""" }
            .mkString("{", ",", "}")))
      Gen.someOf(Seq("p1", "p2", "p3")).flatMap { ks =>
        Gen.sequence[Vector[String], String](ks.toVector.map(_ => nested))
          .map { vs =>
            ArrayBasedMapData(
              ks.map(UTF8String.fromString).toArray[Any],
              vs.map(UTF8String.fromString).toArray[Any])
          }
      }
  }

  private def genRow(fields: IndexedSeq[PField]): Gen[GenericInternalRow] =
    Gen.sequence[Vector[Any], Any](fields.map(f => genValue(f.kind)).toVector)
      .map { vs =>
        val r = new GenericInternalRow(fields.length)
        vs.zipWithIndex.foreach { case (v, i) => r.update(i, v) }
        r
      }

  test("KVMap: a null map value encodes as the JSON-null Value, never NPE") {
    val fields = Vector(PField(1, "m", KVMap))
    val row = new GenericInternalRow(1)
    row.update(0, ArrayBasedMapData(
      Array[Any](UTF8String.fromString("k")), Array[Any](null)))
    val bytes = ProtoStruct.encodeMessage(row, fields)
    val back = ProtoStruct.decode(bytes, new Layout(fields))
    assert(back.getMap(0).valueArray().getUTF8String(0).toString == "null")
  }

  test("encode . decode . encode == encode over 300 random descriptors x rows") {
    val p = Gen.Parameters.default
    var checked = 0
    (0 until 300).foreach { i =>
      val fields = genFields(2)(p, Seed(9000L + i)).getOrElse(sys.error("gen"))
      val row = genRow(fields)(p, Seed(77000L + i)).getOrElse(sys.error("gen"))
      val bytes1 = ProtoStruct.encodeMessage(row, fields)
      val row2 = ProtoStruct.decode(bytes1, new Layout(fields))
      val bytes2 = ProtoStruct.encodeMessage(row2, fields)
      assert(bytes2.sameElements(bytes1),
        s"idempotence broke at seed $i:\nfields=${ProtoStruct.render(fields)}")
      // and the DSL survives the same descriptor
      assert(ProtoStruct.parse(ProtoStruct.render(fields)) == fields)
      checked += 1
    }
    assert(checked == 300)
  }
}
