package graft

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types._

import graft.sources.dynamo.{AttrVal, Codec, ItemJson}
import graft.sources.dynamo.ItemJson.Item

/** Property laws for the connector codec (SURVEY.md §5.2 #3):
  * ItemJson parse∘write = id over arbitrary nested items, and
  * rowWriter∘rowReader = id over schema-conformant items — the law
  * that would have caught the round-1 `ArrayBasedMapData` break at
  * introduction. Uses scalacheck generators with a fixed seed sweep
  * (scalatestplus is not in the offline artifact cache).
  */
class CodecLawsSpec extends AnyFunSuite {

  /** 200 deterministic samples of `g` (seeds 0..199, sizes cycling). */
  private def forAll[T](g: Gen[T])(check: T => Unit): Unit =
    (0 until 200).foreach { i =>
      g.apply(Gen.Parameters.default.withSize(1 + i % 40), Seed(i.toLong))
        .foreach(check)
    }

  // ---- generators ----

  private val genLeaf: Gen[AttrVal] = Gen.oneOf(
    Gen.asciiPrintableStr.map(AttrVal.S.apply),
    Arbitrary.arbitrary[Long].map(v => AttrVal.N(BigDecimal(v))),
    Arbitrary.arbitrary[Double].suchThat(d => !d.isNaN && !d.isInfinite)
      .map(v => AttrVal.N(BigDecimal(v))),
    Arbitrary.arbitrary[Boolean].map(AttrVal.Bool.apply),
    Gen.const(AttrVal.Null),
    Gen.listOfN(8, Arbitrary.arbitrary[Byte]).map(bs => AttrVal.B(bs.toArray)))

  private def genAttr(depth: Int): Gen[AttrVal] =
    if (depth <= 0) genLeaf
    else Gen.frequency(
      6 -> genLeaf,
      1 -> Gen.listOf(genAttr(depth - 1)).map(vs => AttrVal.L(vs.toVector)),
      1 -> Gen.mapOf(Gen.zip(Gen.identifier, genAttr(depth - 1))).map(AttrVal.M.apply))

  private val genItem: Gen[Item] =
    Gen.mapOf(Gen.zip(Gen.identifier, genAttr(2)))

  /** Structural equality with Array[Byte] compared by value. */
  private def eqAttr(a: AttrVal, b: AttrVal): Boolean = (a, b) match {
    case (AttrVal.B(x), AttrVal.B(y)) => java.util.Arrays.equals(x, y)
    case (AttrVal.L(x), AttrVal.L(y)) =>
      x.size == y.size && x.zip(y).forall { case (u, v) => eqAttr(u, v) }
    case (AttrVal.M(x), AttrVal.M(y)) =>
      x.keySet == y.keySet && x.keys.forall(k => eqAttr(x(k), y(k)))
    case _ => a == b
  }

  private def eqItem(a: Item, b: Item): Boolean =
    a.keySet == b.keySet && a.keys.forall(k => eqAttr(a(k), b(k)))

  test("ItemJson: parse(write(item)) == item for arbitrary nested items") {
    forAll(genItem) { item =>
      assert(eqItem(ItemJson.parse(ItemJson.write(item)), item))
    }
  }

  test("ItemJson.write emits the same text as a per-char, sorted-pairs writer") {
    // the reference: keys sorted as (key, value) pairs, every string
    // char matched on its own
    def str(sb: StringBuilder, s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def obj(sb: StringBuilder, m: Map[String, AttrVal]): Unit = {
      sb.append('{')
      m.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb.append(',')
        str(sb, k); sb.append(':'); attr(sb, v)
      }
      sb.append('}')
    }
    def attr(sb: StringBuilder, a: AttrVal): Unit = a match {
      case AttrVal.S(v)    => sb.append("{\"S\":"); str(sb, v); sb.append('}')
      case AttrVal.N(v)    => sb.append("{\"N\":\"").append(v.bigDecimal.toPlainString).append("\"}")
      case AttrVal.Bool(v) => sb.append("{\"BOOL\":").append(v).append('}')
      case AttrVal.Null    => sb.append("{\"NULL\":true}")
      case AttrVal.B(v)    =>
        sb.append("{\"B\":"); str(sb, java.util.Base64.getEncoder.encodeToString(v)); sb.append('}')
      case AttrVal.L(v) =>
        sb.append("{\"L\":[")
        v.zipWithIndex.foreach { case (e, i) => if (i > 0) sb.append(','); attr(sb, e) }
        sb.append("]}")
      case AttrVal.M(v) => sb.append("{\"M\":"); obj(sb, v); sb.append('}')
    }
    val genText: Gen[String] = Gen.listOf(Gen.oneOf(Gen.asciiPrintableChar,
      Gen.oneOf('"', '\\', '\n', '\r', '\t', '\u0001', '\u001f', '\u00e9', '\ud83d', '\ude00')))
      .map(_.mkString)
    val genEscaped: Gen[Item] = Gen.mapOf(Gen.zip(genText,
      Gen.oneOf(genText.map(t => AttrVal.S(t): AttrVal), genAttr(2))))
    forAll(Gen.oneOf(genItem, genEscaped)) { item =>
      val want = new StringBuilder
      obj(want, item)
      assert(ItemJson.write(item) === want.toString)
    }
  }

  test("ItemJson handles escapes, unicode, and control characters") {
    val item: Item = Map(
      "q" -> AttrVal.S("he said \"hi\"\\ \n\t\r"),
      "u" -> AttrVal.S("héllø wörld ✓ 中文"),
      "e" -> AttrVal.S(""))
    assert(eqItem(ItemJson.parse(ItemJson.write(item)), item))
  }

  test("ItemJson number parse: integer fast path preserves value, scale, and text") {
    // round-19 parser fast paths: pure-integer <=18-digit literals take
    // BigDecimal.valueOf(long); everything else the exact string
    // constructor. write-after-parse must stay the identity on the TEXT
    // (toPlainString), and escape-bearing strings must still decode
    // after the zero-copy scan-ahead.
    val texts = Seq("0", "-0", "7", "-7", "007", "123456789012345678",
      "-123456789012345678", "1234567890123456789", // 19 digits: slow path
      "99999999999999999999999999", "1.50", "-0.004", "2e3", "0.000")
    for (t <- texts) {
      val line = s"""{"n":{"N":"$t"}}"""
      val parsed = ItemJson.parse(line)("n").asInstanceOf[AttrVal.N].v
      assert(parsed == BigDecimal(t), s"value for $t")
      assert(parsed.bigDecimal.scale == new java.math.BigDecimal(t).scale,
        s"scale for $t")
      // the writer emits toPlainString — "007" canonicalizes to "7",
      // "2e3" to "2000"; scale (hence trailing zeros) is preserved
      assert(parsed.bigDecimal.toPlainString ==
        new java.math.BigDecimal(t).toPlainString, s"text for $t")
    }
    val esc = "{\"k\":{\"S\":\"plain then \\\"quoted\\\" A tail\"}}"
    assert(ItemJson.parse(esc)("k") == AttrVal.S("plain then \"quoted\" A tail"))
  }

  // ---- row codec laws over a nested schema ----

  private val schema = StructType(Seq(
    StructField("s", StringType),
    StructField("l", LongType),
    StructField("i", IntegerType),
    StructField("d", DoubleType),
    StructField("b", BooleanType),
    StructField("bin", BinaryType),
    StructField("arr", ArrayType(LongType)),
    StructField("m", MapType(StringType, DoubleType)),
    StructField("nested", StructType(Seq(
      StructField("x", StringType),
      StructField("ys", ArrayType(DoubleType)))))))

  private def genValueFor(dt: DataType): Gen[AttrVal] = dt match {
    case StringType  => Gen.asciiPrintableStr.map(AttrVal.S.apply)
    case LongType    => Arbitrary.arbitrary[Long].map(v => AttrVal.N(BigDecimal(v)))
    case IntegerType => Arbitrary.arbitrary[Int].map(v => AttrVal.N(BigDecimal(v)))
    case DoubleType  => Arbitrary.arbitrary[Double].suchThat(d => !d.isNaN && !d.isInfinite)
      .map(v => AttrVal.N(BigDecimal(v)))
    case BooleanType => Arbitrary.arbitrary[Boolean].map(AttrVal.Bool.apply)
    case BinaryType  => Gen.listOfN(6, Arbitrary.arbitrary[Byte]).map(bs => AttrVal.B(bs.toArray))
    case ArrayType(e, _) => Gen.listOfN(4, genValueFor(e)).map(vs => AttrVal.L(vs.toVector))
    case MapType(StringType, v, _) =>
      Gen.mapOf(Gen.zip(Gen.identifier, genValueFor(v))).map(AttrVal.M.apply)
    case st: StructType => genConformant(st).map(AttrVal.M.apply)
    case other => sys.error(s"no generator for $other")
  }

  private def genConformant(st: StructType): Gen[Item] =
    Gen.sequence[Vector[(String, AttrVal)], (String, AttrVal)](
      st.fields.toVector.map { f =>
        Gen.frequency(
          5 -> genValueFor(f.dataType),
          1 -> Gen.const(AttrVal.Null: AttrVal)).map(f.name -> _)
      }).map(_.toMap)

  test("Codec: rowWriter(rowReader(item)) == item for schema-conformant items") {
    val read = Codec.rowReader(schema)
    val write = Codec.rowWriter(schema)
    forAll(genConformant(schema)) { item =>
      assert(eqItem(write(read(item)), item))
    }
  }

  test("Codec: TIMESTAMP_NTZ round-trips as zone-free epoch micros") {
    val ntz = StructType(Seq(
      StructField("t", TimestampNTZType),
      StructField("ts", ArrayType(TimestampNTZType)),
      StructField("z", TimestampType)))
    val read = Codec.rowReader(ntz)
    val write = Codec.rowWriter(ntz)
    forAll(genConformant(StructType(ntz.fields.map(f =>
      f.copy(dataType = f.dataType match {
        case ArrayType(_, n) => ArrayType(LongType, n)
        case _ => LongType
      }))))) { item =>
      assert(eqItem(write(read(item)), item))
    }
    // 2024-01-02T03:04:05.000006 as a wall clock: the stored N is the
    // micros of that wall clock read as UTC, whatever the session zone
    val micros = java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 6000)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + 6L
    val item: Item = Map("t" -> AttrVal.N(BigDecimal(micros)),
      "ts" -> AttrVal.L(Vector(AttrVal.N(BigDecimal(micros)), AttrVal.Null)),
      "z" -> AttrVal.Null)
    val row = read(item)
    assert(row.getLong(0) == micros)
    assert(write(row) == item)
  }

  test("Codec: absent attributes read as null and write back as NULL") {
    val read = Codec.rowReader(schema)
    val write = Codec.rowWriter(schema)
    val row = read(Map.empty)
    (0 until schema.length).foreach(i => assert(row.isNullAt(i)))
    assert(write(row) == schema.fieldNames.map(_ -> AttrVal.Null).toMap)
  }

  test("Codec: inferSchema round-trips the types it assigns") {
    forAll(Gen.nonEmptyListOf(genConformant(schema))) { items =>
      val inferred = Codec.inferSchema(items)
      val read = Codec.rowReader(inferred)
      // Every sampled item must decode under the schema inferred from it.
      items.foreach(read(_))
    }
  }
}
