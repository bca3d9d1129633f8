package graft.sources.xml

import java.io.Writer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.locationtech.jts.geom._

import graft.sources.{FeatureSink, GdalOptions, GeometryColumn, Part, PartWriter, TextPart}

/** KML write path (any-driver W1/W3 parity; the reader's inverse): each
  * partition emits a `part-NNNNN.kml` Document of Placemarks. A `name`
  * column becomes the Placemark <name>; every other property rides in
  * ExtendedData (KML's untyped Data/value pairs — numeric/bool/date
  * values round-trip as their canonical strings, which is what GDAL's
  * KML driver produces too). Geometry covers Point/LineString/Polygon
  * (outer+inner rings) and multi/collection types via MultiGeometry. */
object KmlSerializer {

  def xml(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def coords(cs: Array[Coordinate]): String =
    cs.map(c => s"${c.x},${c.y}").mkString(" ")

  def geometry(g: org.locationtech.jts.geom.Geometry, out: Writer): Unit = g match {
    case p: Point =>
      out.write(s"<Point><coordinates>${p.getX},${p.getY}</coordinates></Point>")
    case l: LineString =>
      out.write(s"<LineString><coordinates>${coords(l.getCoordinates)}</coordinates></LineString>")
    case p: Polygon =>
      out.write("<Polygon><outerBoundaryIs><LinearRing><coordinates>")
      out.write(coords(p.getExteriorRing.getCoordinates))
      out.write("</coordinates></LinearRing></outerBoundaryIs>")
      (0 until p.getNumInteriorRing).foreach { i =>
        out.write("<innerBoundaryIs><LinearRing><coordinates>")
        out.write(coords(p.getInteriorRingN(i).getCoordinates))
        out.write("</coordinates></LinearRing></innerBoundaryIs>")
      }
      out.write("</Polygon>")
    case m: GeometryCollection => // MultiPoint/Line/Polygon + collections
      out.write("<MultiGeometry>")
      (0 until m.getNumGeometries).foreach(i => geometry(m.getGeometryN(i), out))
      out.write("</MultiGeometry>")
    case other => throw new IllegalStateException(
      s"unsupported KML geometry ${other.getGeometryType}")
  }

  /** One Placemark. `name` (when present and non-null) becomes <name>;
    * other non-null properties become ExtendedData Data/value pairs
    * (null props skipped, reference src/lib.rs:562-567). */
  def writeFeature(row: InternalRow, schema: StructType, geom: GeometryColumn,
      out: Writer): Unit = {
    val geomIdx = geom.index
    out.write("<Placemark>")
    val nameIdx = schema.fieldNames.indexOf("name")
    if (nameIdx >= 0 && nameIdx != geomIdx && !row.isNullAt(nameIdx))
      out.write(s"<name>${xml(valueString(row, nameIdx, schema.fields(nameIdx).dataType))}</name>")
    val dataIdx = schema.fields.indices
      .filter(i => i != geomIdx && i != nameIdx && !row.isNullAt(i))
      .filterNot(i => schema.fields(i).dataType == BinaryType)
    if (dataIdx.nonEmpty) {
      out.write("<ExtendedData>")
      dataIdx.foreach { i =>
        out.write(s"""<Data name="${xml(schema.fields(i).name)}"><value>""")
        out.write(xml(valueString(row, i, schema.fields(i).dataType)))
        out.write("</value></Data>")
      }
      out.write("</ExtendedData>")
    }
    val g = geom.read(row)
    if (g != null) geometry(g, out)
    out.write("</Placemark>\n")
  }

  private def valueString(row: InternalRow, i: Int, dt: DataType): String = dt match {
    case StringType => row.getUTF8String(i).toString
    case IntegerType => row.getInt(i).toString
    case LongType => row.getLong(i).toString
    case DoubleType => row.getDouble(i).toString
    case FloatType => row.getFloat(i).toString
    case BooleanType => row.getBoolean(i).toString
    case DateType => DateTimeUtils.toJavaDate(row.getInt(i)).toString
    case TimestampType => DateTimeUtils.toJavaTimestamp(row.getLong(i)).toInstant.toString
    case other => row.get(i, other).toString
  }
}

object KmlSink extends FeatureSink {
  override def extensions: Seq[String] = Seq(".kml")
  override def writer(part: Part, schema: StructType, geometry: GeometryColumn,
      opts: GdalOptions): PartWriter =
    new TextPart(part.files(0),
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<kml xmlns=\"http://www.opengis.net/kml/2.2\"><Document>\n",
      "</Document></kml>\n") {
      override def write(row: InternalRow): Unit = {
        KmlSerializer.writeFeature(row, schema, geometry, out)
        n += 1
      }
    }
}
