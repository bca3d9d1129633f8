package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geom.GeomCodec

/** Projects a [[RawFeature]] onto the (possibly pruned) read schema —
  * the executor-side half of the reference's read loop: fixed schema, nulls
  * for missing fields (SURVEY.md §3.1 Spark lifecycle equivalent). */
final class RowConverter(
    readSchema: StructType,
    opts: GdalOptions) extends Serializable {

  private val geomName = opts.geometryColumnName
  private val reserved = Set(geomName) ++ opts.fidColumnName

  // For each output field: a getter tag. 0=fid, 1=geometry, 2=data prop.
  private val fields = readSchema.fields.map { f =>
    if (opts.fidColumnName.contains(f.name)) (0, f.name, f.dataType)
    else if (f.name == geomName) (1, f.name, f.dataType)
    else {
      // rename rule 5 inverse: field `x_original` reads prop `x`
      val prop = if (f.name.endsWith("_original") &&
        reserved.contains(f.name.stripSuffix("_original"))) f.name.stripSuffix("_original")
      else f.name
      (2, prop, f.dataType)
    }
  }
  private val props = new FirstValues(fields.toSeq.collect { case (2, prop, _) => prop })
  private val slots = fields.map { case (tag, name, _) => if (tag == 2) props.slotOf(name) else -1 }

  def convert(f: RawFeature): InternalRow = {
    val firsts = props.read(f.props)
    val values = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      val (tag, _, dt) = fields(i)
      values(i) = tag match {
        case 0 => f.fid
        case 1 =>
          if (f.geomWkb == null) null
          else opts.geometryFormat match {
            case "wkb" => f.geomWkb
            case "wkt" => UTF8String.fromString(GeomCodec.wkbToWkt(f.geomWkb))
            case "geojson" => UTF8String.fromString(GeomCodec.wkbToGeoJson(f.geomWkb))
          }
        case _ => firsts(slots(i)) match {
          case FirstValues.Absent => null
          case v => toCatalyst(v, dt)
        }
      }
      i += 1
    }
    new GenericInternalRow(values)
  }

  private def toCatalyst(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (i: Int, IntegerType) => i
    case (i: Int, LongType) => i.toLong
    case (i: Int, DoubleType) => i.toDouble
    case (l: Long, LongType) => l
    case (l: Long, DoubleType) => l.toDouble
    case (d: Double, DoubleType) => d
    case (b: Boolean, BooleanType) => b
    case (s: String, StringType) => UTF8String.fromString(s)
    case (b: Array[Byte], BinaryType) => b
    case (d: java.sql.Date, DateType) => DateTimeUtils.fromJavaDate(d)
    case (t: java.sql.Timestamp, TimestampType) => DateTimeUtils.fromJavaTimestamp(t)
    case (s: Seq[_], ArrayType(et, _)) =>
      new GenericArrayData(s.map(e => toCatalyst(e, et)).toArray)
    case (other, StringType) => UTF8String.fromString(other.toString)
    case _ => null // type clash beyond widening → null (nullable column)
  }
}

/** The value of each name's first occurrence among a feature's props,
  * found in one walk over the props — linear in row width however many
  * names are asked for. A name the feature lacks reads as [[FirstValues.Absent]]. */
final class FirstValues(names: Seq[String]) extends Serializable {
  private val slot: Map[String, Int] = names.distinct.zipWithIndex.toMap

  /** The index `read` fills for `name`; -1 for a name not asked for. */
  def slotOf(name: String): Int = slot.getOrElse(name, -1)

  def read(props: IndexedSeq[(String, Any)]): Array[Any] = {
    val out = new Array[Any](slot.size)
    java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], FirstValues.Absent)
    var left = slot.size
    val it = props.iterator
    while (left > 0 && it.hasNext) {
      val (name, v) = it.next()
      val i = slotOf(name)
      if (i >= 0 && (out(i).asInstanceOf[AnyRef] eq FirstValues.Absent)) { out(i) = v; left -= 1 }
    }
    out
  }
}

object FirstValues {
  case object Absent
}
