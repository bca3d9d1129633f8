package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geom.GeomCodec

/** Projects a [[RawFeature]] onto the (possibly pruned) read schema —
  * the executor-side half of the reference's read loop: fixed schema, nulls
  * for missing fields (SURVEY.md §3.1 Spark lifecycle equivalent). Each
  * field's conversion is chosen once, here, from its data type; a row
  * costs one walk over its props plus one call per field. The row path,
  * for formats without a [[ValueSink]] decode loop (KML, GPX, GML); the
  * columnar formats convert into vectors in [[ColumnSink]], by the same
  * rules. */
final class RowConverter(
    readSchema: StructType,
    opts: GdalOptions) extends Serializable {
  import RowConverter._

  private val geomName = opts.geometryColumnName

  // For each output field: a getter tag. 0=fid, 1=geometry, 2=data prop.
  private val tags = readSchema.fields.map { f =>
    if (opts.fidColumnName.contains(f.name)) 0 else if (f.name == geomName) 1 else 2
  }
  private val propNames = readSchema.fields.map(f => SchemaInference.propOf(f.name, opts))
  private val props = new FirstValues(propNames.indices.collect {
    case i if tags(i) == 2 => propNames(i) })
  private val slots = propNames.indices.map(i =>
    if (tags(i) == 2) props.slotOf(propNames(i)) else -1).toArray
  private val casts = readSchema.fields.map(f => castTo(f.dataType))
  private val geometry: Array[Byte] => Any = opts.geometryFormat match {
    case "wkb" => wkb => wkb
    case "wkt" => wkb => UTF8String.fromString(GeomCodec.wkbToWkt(wkb))
    case "geojson" => wkb => UTF8String.fromString(GeomCodec.wkbToGeoJson(wkb))
  }

  def convert(f: RawFeature): InternalRow = {
    val firsts = props.read(f.props)
    val values = new Array[Any](tags.length)
    var i = 0
    while (i < tags.length) {
      values(i) = tags(i) match {
        case 0 => f.fid
        case 1 => if (f.geomWkb == null) null else geometry(f.geomWkb)
        case _ =>
          val v = firsts(slots(i))
          if (v.asInstanceOf[AnyRef] eq FirstValues.Absent) null else casts(i)(v)
      }
      i += 1
    }
    new GenericInternalRow(values)
  }
}

object RowConverter {
  /** The conversion of a prop value into a column of type `dt`: Int →
    * Long → Double widening, anything to its text for a string column,
    * lists element-wise; null, and a type clash beyond widening, give
    * null (every data column is nullable). */
  private def castTo(dt: DataType): Any => Any = dt match {
    case IntegerType => { case i: Int => i; case _ => null }
    case LongType => { case l: Long => l; case i: Int => i.toLong; case _ => null }
    case DoubleType => {
      case d: Double => d; case i: Int => i.toDouble; case l: Long => l.toDouble; case _ => null }
    case BooleanType => { case b: Boolean => b; case _ => null }
    case StringType => {
      case null => null
      case s: String => UTF8String.fromString(s)
      case other => UTF8String.fromString(other.toString)
    }
    case BinaryType => { case b: Array[Byte] => b; case _ => null }
    case DateType => { case d: java.sql.Date => DateTimeUtils.fromJavaDate(d); case _ => null }
    case TimestampType => {
      case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t); case _ => null }
    case ArrayType(et, _) =>
      val elem = castTo(et)
      val list: Any => Any = {
        case s: Seq[_] => new GenericArrayData(s.map(elem).toArray); case _ => null }
      list
    case _ => _ => null
  }
}

/** The value of each name's first occurrence among a feature's props,
  * found in one walk over the props — linear in row width however many
  * names are asked for, and with no hashing while the props keep the
  * previous row's order and name instances (see [[NameSlots]]). A name
  * the feature lacks reads as [[FirstValues.Absent]]. */
final class FirstValues(names: Seq[String]) extends Serializable {
  private val slots = NameSlots.fixed(names)
  private val width = slots.size
  // the last row's values; a slot not stamped with that row is absent
  private val values = new Array[Any](width)
  private val stamp = new Array[Int](width)
  private var row = 0

  /** The index `read` fills for `name`; -1 for a name not asked for. */
  def slotOf(name: String): Int = slots.slotOf(name)

  /** Reads one row's props; [[apply]] answers for it until the next read. */
  def read(props: IndexedSeq[(String, Any)]): this.type = {
    if (row == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); row = 0 }
    row += 1
    var left = width
    var pos = 0
    val it = props.iterator
    while (left > 0 && it.hasNext) {
      val (name, v) = it.next()
      val i = slots.slotAt(pos, name)
      if (i >= 0 && stamp(i) != row) { stamp(i) = row; values(i) = v; left -= 1 }
      pos += 1
    }
    this
  }

  /** The value of slot `i`'s name in the row last read, or [[FirstValues.Absent]]. */
  def apply(i: Int): Any = if (stamp(i) == row) values(i) else FirstValues.Absent
}

object FirstValues {
  case object Absent
}
