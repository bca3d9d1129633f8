package graft.sources.xml

import java.io.Writer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.locationtech.jts.geom._

import graft.sources.{FeatureSink, GdalOptions, GeometryColumn, Part, PartWriter, TextPart}

/** GML write path (the [[GmlFormat]] reader's inverse, completing the
  * read/write matrix for the WFS/INSPIRE interchange format): each
  * partition emits a `part-NNNNN.gml` FeatureCollection of
  * featureMembers. The feature element name is `layerName` (default
  * `feature`); a `gml_id` column (when present) becomes the gml:id
  * attribute, every other non-binary property a child element, and
  * geometry writes GML3 forms — Point/pos, LineString/posList,
  * Polygon/exterior+interior, Multi* with member wrappers — exactly the
  * subset the reader parses back. */
object GmlSerializer {

  private def coordsList(cs: Array[Coordinate]): String =
    cs.map(c => s"${c.x} ${c.y}").mkString(" ")

  def geometry(g: org.locationtech.jts.geom.Geometry, out: Writer): Unit = g match {
    case p: Point =>
      out.write(s"<gml:Point><gml:pos>${p.getX} ${p.getY}</gml:pos></gml:Point>")
    case l: LineString =>
      out.write(s"<gml:LineString><gml:posList>${coordsList(l.getCoordinates)}</gml:posList></gml:LineString>")
    case p: Polygon =>
      out.write("<gml:Polygon><gml:exterior><gml:LinearRing><gml:posList>")
      out.write(coordsList(p.getExteriorRing.getCoordinates))
      out.write("</gml:posList></gml:LinearRing></gml:exterior>")
      (0 until p.getNumInteriorRing).foreach { i =>
        out.write("<gml:interior><gml:LinearRing><gml:posList>")
        out.write(coordsList(p.getInteriorRingN(i).getCoordinates))
        out.write("</gml:posList></gml:LinearRing></gml:interior>")
      }
      out.write("</gml:Polygon>")
    case m: MultiPoint =>
      out.write("<gml:MultiPoint>")
      (0 until m.getNumGeometries).foreach { i =>
        out.write("<gml:pointMember>"); geometry(m.getGeometryN(i), out)
        out.write("</gml:pointMember>")
      }
      out.write("</gml:MultiPoint>")
    case m: MultiLineString =>
      out.write("<gml:MultiCurve>")
      (0 until m.getNumGeometries).foreach { i =>
        out.write("<gml:curveMember>"); geometry(m.getGeometryN(i), out)
        out.write("</gml:curveMember>")
      }
      out.write("</gml:MultiCurve>")
    case m: MultiPolygon =>
      out.write("<gml:MultiSurface>")
      (0 until m.getNumGeometries).foreach { i =>
        out.write("<gml:surfaceMember>"); geometry(m.getGeometryN(i), out)
        out.write("</gml:surfaceMember>")
      }
      out.write("</gml:MultiSurface>")
    case m: GeometryCollection =>
      out.write("<gml:MultiGeometry>")
      (0 until m.getNumGeometries).foreach { i =>
        out.write("<gml:geometryMember>"); geometry(m.getGeometryN(i), out)
        out.write("</gml:geometryMember>")
      }
      out.write("</gml:MultiGeometry>")
    case other => throw new IllegalStateException(
      s"unsupported GML geometry ${other.getGeometryType}")
  }

  /** One featureMember. `gml_id` (when present and non-null) becomes the
    * gml:id attribute; other non-null, non-binary properties become
    * child elements (nulls skipped — the reader's ragged contract). */
  def writeFeature(row: InternalRow, schema: StructType, geom: GeometryColumn,
      typeName: String, fallbackId: String, out: Writer): Unit = {
    val geomIdx = geom.index
    val idIdx = schema.fieldNames.indexOf("gml_id")
    val id =
      if (idIdx >= 0 && idIdx != geomIdx && !row.isNullAt(idIdx))
        valueString(row, idIdx, schema.fields(idIdx).dataType)
      else fallbackId
    out.write(s"""<gml:featureMember><app:$typeName gml:id="${KmlSerializer.xml(id)}">""")
    schema.fields.indices
      .filter(i => i != geomIdx && i != idIdx && !row.isNullAt(i))
      .filterNot(i => schema.fields(i).dataType == BinaryType)
      .foreach { i =>
        val n = schema.fields(i).name
        out.write(s"<app:${n}>")
        out.write(KmlSerializer.xml(valueString(row, i, schema.fields(i).dataType)))
        out.write(s"</app:${n}>")
      }
    val g = geom.read(row)
    if (g != null) {
      out.write("<app:geom>")
      geometry(g, out)
      out.write("</app:geom>")
    }
    out.write(s"</app:$typeName></gml:featureMember>\n")
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

object GmlSink extends FeatureSink {
  override def extensions: Seq[String] = Seq(".gml")

  override def check(schema: StructType, geometryIndex: Int, opts: GdalOptions): Unit = {
    // every column emitted as an element name must be a valid XML NCName
    // (no colons/spaces/leading digits) or the produced document is
    // malformed and GmlFormat cannot read it back — fail fast at plan
    // time, like the geometry-column checks
    val ncName = "^[\\p{L}_][\\p{L}\\p{N}._\\-]*$".r
    val elementCols = schema.fields.zipWithIndex.collect {
      case (f, i) if i != geometryIndex && f.name != "gml_id" && f.dataType != BinaryType => f.name
    }
    val bad = (elementCols :+ opts.layerName.getOrElse("feature"))
      .filterNot(n => ncName.matches(n))
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"gml write: column/layer names must be XML NCNames (letter/_ start, no colons or spaces): ${bad.mkString(", ")}")
  }

  override def writer(part: Part, schema: StructType, geometry: GeometryColumn,
      opts: GdalOptions): PartWriter = {
    val typeName = opts.layerName.getOrElse("feature")
    new TextPart(part.files(0),
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<gml:FeatureCollection " +
        "xmlns:gml=\"http://www.opengis.net/gml\" xmlns:app=\"http://graft.example/app\">\n",
      "</gml:FeatureCollection>\n") {
      override def write(row: InternalRow): Unit = {
        GmlSerializer.writeFeature(row, schema, geometry, typeName, s"f${part.id}-$n", out)
        n += 1
      }
    }
  }
}
