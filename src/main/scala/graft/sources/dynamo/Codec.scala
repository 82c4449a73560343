package graft.sources.dynamo

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.dynamo.ItemJson.Item

/** Item ⇄ Catalyst conversion + dynamic schema inference — the
  * connector's analogue of the reference's per-field conversion
  * tables [REF: datasource/TypeConversion.scala (read);
  * catalyst/JavaConverter.scala (write)].
  *
  * Converters are resolved once per schema (array of field closures),
  * not per value, so the per-row path is a flat loop — this is the
  * hot path of every scan. Absent attributes read as null; DynamoDB
  * has no native temporal types, so TimestampType/DateType round-trip
  * through `N` as epoch-micros / epoch-days (SURVEY.md §1.2);
  * TimestampNTZType takes the same `N` form as zone-free epoch micros
  * (its wall-clock fields read as UTC, no session-zone shift).
  */
object Codec {

  // ---- read: Item → InternalRow ----

  def rowReader(schema: StructType): Item => InternalRow = {
    val fields = schema.fields.map(f => (f.name, attrReader(f.dataType)))
    item => {
      val values = new Array[Any](fields.length)
      var i = 0
      while (i < fields.length) {
        val (name, read) = fields(i)
        values(i) = item.get(name) match {
          case None | Some(AttrVal.Null) => null
          case Some(a) => read(a)
        }
        i += 1
      }
      new GenericInternalRow(values)
    }
  }

  private def attrReader(dt: DataType): AttrVal => Any = dt match {
    case StringType => {
      case AttrVal.S(v) => UTF8String.fromString(v)
      case AttrVal.N(v) => UTF8String.fromString(v.bigDecimal.toPlainString)
      case AttrVal.Bool(v) => UTF8String.fromString(v.toString)
      case other => fail(dt, other)
    }
    case LongType    => { case AttrVal.N(v) => v.toLong; case o => fail(dt, o) }
    case IntegerType => { case AttrVal.N(v) => v.toInt; case o => fail(dt, o) }
    case ShortType   => { case AttrVal.N(v) => v.toShort; case o => fail(dt, o) }
    case ByteType    => { case AttrVal.N(v) => v.toByte; case o => fail(dt, o) }
    case DoubleType  => { case AttrVal.N(v) => v.toDouble; case o => fail(dt, o) }
    case FloatType   => { case AttrVal.N(v) => v.toFloat; case o => fail(dt, o) }
    case d: DecimalType => {
      case AttrVal.N(v) => Decimal(v, d.precision, d.scale)
      case o => fail(dt, o)
    }
    case BooleanType => { case AttrVal.Bool(v) => v; case o => fail(dt, o) }
    case BinaryType  => { case AttrVal.B(v) => v; case o => fail(dt, o) }
    case TimestampType | TimestampNTZType => // epoch micros
      { case AttrVal.N(v) => v.toLong; case o => fail(dt, o) }
    case DateType      => { case AttrVal.N(v) => v.toInt; case o => fail(dt, o) }  // epoch days
    case ArrayType(elem, _) =>
      val readElem = attrReader(elem)
      a => a match {
        case AttrVal.L(vs) =>
          new GenericArrayData(vs.map {
            case AttrVal.Null => null
            case v => readElem(v)
          }.toArray[Any])
        case o => fail(dt, o)
      }
    case MapType(StringType, valueType, _) =>
      val readVal = attrReader(valueType)
      a => a match {
        case AttrVal.M(m) =>
          val entries = m.toSeq.sortBy(_._1) // deterministic map order
          new ArrayBasedMapData(
            new GenericArrayData(entries.map(e => UTF8String.fromString(e._1)).toArray[Any]),
            new GenericArrayData(entries.map {
              case (_, AttrVal.Null) => null
              case (_, v) => readVal(v)
            }.toArray[Any]))
        case o => fail(dt, o)
      }
    case st: StructType =>
      val read = rowReader(st)
      a => a match {
        case AttrVal.M(m) => read(m)
        case o => fail(dt, o)
      }
    case other =>
      throw new UnsupportedOperationException(
        s"dynamo source: Spark type $other is not mapped")
  }

  private def fail(dt: DataType, a: AttrVal): Nothing =
    throw new IllegalArgumentException(s"cannot read $a as $dt")

  // ---- write: InternalRow → Item ----

  def rowWriter(schema: StructType): InternalRow => Item = {
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      (f.name, f.dataType, attrWriter(f.dataType), i)
    }
    row => fields.map { case (name, dt, write, i) =>
      if (row.isNullAt(i)) name -> (AttrVal.Null: AttrVal)
      else name -> write(row.get(i, dt))
    }.toMap
  }

  /** Column-at-a-time cell encode for the columnar WRITE path (the
    * write-side mirror of the read's `putScalar`): per-type VECTOR
    * getters layered over the SAME [[attrWriter]] value→AttrVal
    * conversion the row writer uses — the wire value for a cell is
    * produced by one shared definition, so the row and columnar write
    * paths cannot disagree on encoding. Gated to the columnar-read
    * type set (flat primitives + array-of-primitive); anything else
    * must take the row path.
    */
  def vectorCellWriter(dt: DataType)
      : (org.apache.spark.sql.vectorized.ColumnVector, Int) => AttrVal = {
    val conv = attrWriter(dt)
    dt match {
      case LongType | TimestampType => (v, i) => conv(v.getLong(i))
      case IntegerType | DateType   => (v, i) => conv(v.getInt(i))
      case ShortType   => (v, i) => conv(v.getShort(i))
      case ByteType    => (v, i) => conv(v.getByte(i))
      case DoubleType  => (v, i) => conv(v.getDouble(i))
      case FloatType   => (v, i) => conv(v.getFloat(i))
      case BooleanType => (v, i) => conv(v.getBoolean(i))
      case StringType  => (v, i) => conv(v.getUTF8String(i))
      case BinaryType  => (v, i) => conv(v.getBinary(i))
      // ColumnarArray IS an ArrayData — the array conversion is the
      // row writer's own, element getters included
      case ArrayType(_, _) => (v, i) => conv(v.getArray(i))
      case other => throw new UnsupportedOperationException(
        s"columnar write of $other (callers gate on the columnar type set)")
    }
  }

  private def attrWriter(dt: DataType): Any => AttrVal = dt match {
    case StringType  => v => AttrVal.S(v.toString)
    case LongType    => v => AttrVal.N(BigDecimal(v.asInstanceOf[Long]))
    case IntegerType => v => AttrVal.N(BigDecimal(v.asInstanceOf[Int]))
    case ShortType   => v => AttrVal.N(BigDecimal(v.asInstanceOf[Short].toInt))
    case ByteType    => v => AttrVal.N(BigDecimal(v.asInstanceOf[Byte].toInt))
    case DoubleType  => v => AttrVal.N(BigDecimal(v.asInstanceOf[Double]))
    case FloatType   => v => AttrVal.N(BigDecimal(v.asInstanceOf[Float].toDouble))
    case _: DecimalType => v => AttrVal.N(v.asInstanceOf[Decimal].toBigDecimal)
    case BooleanType => v => AttrVal.Bool(v.asInstanceOf[Boolean])
    case BinaryType  => v => AttrVal.B(v.asInstanceOf[Array[Byte]])
    case TimestampType | TimestampNTZType => v => AttrVal.N(BigDecimal(v.asInstanceOf[Long]))
    case DateType      => v => AttrVal.N(BigDecimal(v.asInstanceOf[Int]))
    case ArrayType(elem, _) =>
      val writeElem = attrWriter(elem)
      v => {
        val arr = v.asInstanceOf[ArrayData]
        AttrVal.L((0 until arr.numElements()).map { i =>
          if (arr.isNullAt(i)) AttrVal.Null else writeElem(arr.get(i, elem))
        }.toVector)
      }
    case MapType(StringType, valueType, _) =>
      val writeVal = attrWriter(valueType)
      v => {
        val m = v.asInstanceOf[MapData]
        val keys = m.keyArray()
        val vals = m.valueArray()
        AttrVal.M((0 until m.numElements()).map { i =>
          keys.getUTF8String(i).toString ->
            (if (vals.isNullAt(i)) AttrVal.Null else writeVal(vals.get(i, valueType)))
        }.toMap)
      }
    case MapType(k, _, _) =>
      throw new UnsupportedOperationException(
        s"dynamo source: map keys must be strings, got $k")
    case st: StructType =>
      val write = rowWriter(st)
      v => AttrVal.M(write(v.asInstanceOf[InternalRow]))
    case other =>
      throw new UnsupportedOperationException(
        s"dynamo source: Spark type $other is not mapped")
  }

  // ---- schema inference (A6) ----

  /** Union of observed attribute types over a sample page: integral
    * `N` → LongType (widened to DoubleType if any non-integral seen),
    * `M` → nested struct, `L` → array of the unified element type.
    */
  def inferSchema(sample: Seq[Item]): StructType = {
    val types = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    sample.foreach { item =>
      item.foreach { case (name, a) =>
        inferAttr(a).foreach { dt =>
          types(name) = types.get(name).map(unify(_, dt)).getOrElse(dt)
        }
      }
    }
    StructType(types.toSeq.sortBy(_._1).map { case (n, dt) =>
      StructField(n, dt, nullable = true)
    })
  }

  private def inferAttr(a: AttrVal): Option[DataType] = a match {
    case AttrVal.S(_)    => Some(StringType)
    case AttrVal.N(v)    => Some(if (v.isWhole) LongType else DoubleType)
    case AttrVal.Bool(_) => Some(BooleanType)
    case AttrVal.B(_)    => Some(BinaryType)
    case AttrVal.Null    => None
    case AttrVal.L(vs) =>
      val elem = vs.flatMap(inferAttr).reduceOption(unify).getOrElse(StringType)
      Some(ArrayType(elem, containsNull = true))
    case AttrVal.M(m) =>
      val nested = m.toSeq.sortBy(_._1).flatMap { case (k, v) =>
        inferAttr(v).map(dt => StructField(k, dt, nullable = true))
      }
      Some(StructType(nested))
  }

  private def unify(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (ArrayType(x, _), ArrayType(y, _)) => ArrayType(unify(x, y), containsNull = true)
    case (x: StructType, y: StructType) =>
      val names = (x.fieldNames ++ y.fieldNames).distinct.sorted
      StructType(names.map { n =>
        (x.find(_.name == n), y.find(_.name == n)) match {
          case (Some(f1), Some(f2)) => StructField(n, unify(f1.dataType, f2.dataType), nullable = true)
          case (Some(f1), None) => f1.copy(nullable = true)
          case (None, Some(f2)) => f2.copy(nullable = true)
          case _ => throw new IllegalStateException
        }
      })
    case _ => StringType // heterogeneous attribute → read as string
  }
}
