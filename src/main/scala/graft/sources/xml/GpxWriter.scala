package graft.sources.xml

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import graft.sources.{FeatureSink, GdalOptions, GeometryColumn, Part, PartWriter, TextPart}

/** GPX write path — the waypoints layer (any-driver W1/W3 parity; the
  * reader's inverse for GDAL's default GPX layer): one `<wpt lat lon>`
  * per Point row, with the GPX-schema children the reader understands
  * (`ele`, `time`, `name`, `desc`, `sym`, `type`, `cmt`) emitted from
  * same-named columns; other properties have no slot in the GPX schema
  * and are skipped, exactly like GDAL's GPX driver. Geometry must be
  * points — GPX routes/tracks carry structure (rte/trk nesting) that a
  * flat DataFrame write cannot express without a layer contract, so
  * non-point geometries error loudly. */
object GpxSink extends FeatureSink {
  override def extensions: Seq[String] = Seq(".gpx")
  override def writer(part: Part, schema: StructType, geometry: GeometryColumn,
      opts: GdalOptions): PartWriter = new GpxPart(part.files(0), schema, geometry)
}

private final class GpxPart(file: File, schema: StructType, geometry: GeometryColumn)
  extends TextPart(file,
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<gpx version=\"1.1\" creator=\"graft\" " +
      "xmlns=\"http://www.topografix.com/GPX/1/1\">\n",
    "</gpx>\n") {
  // GPX-schema child order matters for validity: ele, time, then the rest
  private val childOrder = Seq("ele", "time", "name", "cmt", "desc", "sym", "type")
  private val childIdx = childOrder.flatMap { n =>
    val i = schema.fieldNames.indexOf(n)
    if (i >= 0 && i != geometry.index) Some((n, i)) else None
  }

  override def write(row: InternalRow): Unit = {
    val g = geometry.read(row)
    if (g != null) {
      val p = g match {
        case pt: org.locationtech.jts.geom.Point => pt
        case other => throw new IllegalStateException(
          s"GPX waypoint write requires Point geometry, got ${other.getGeometryType}")
      }
      out.write(s"""<wpt lat="${p.getY}" lon="${p.getX}">""")
      childIdx.foreach { case (name, i) =>
        if (!row.isNullAt(i)) {
          val v = schema.fields(i).dataType match {
            case StringType => row.getUTF8String(i).toString
            case DoubleType => row.getDouble(i).toString
            case FloatType => row.getFloat(i).toString
            case IntegerType => row.getInt(i).toString
            case LongType => row.getLong(i).toString
            case TimestampType => org.apache.spark.sql.catalyst.util.DateTimeUtils
              .toJavaTimestamp(row.getLong(i)).toInstant.toString
            case dt => row.get(i, dt).toString
          }
          out.write(s"<$name>${KmlSerializer.xml(v)}</$name>")
        }
      }
      out.write("</wpt>\n")
      // only written waypoints count toward the commit total: GPX has no
      // geometry-less waypoint, so an all-null-geometry frame raises
      // EmptyDataframe instead of "succeeding" with an empty file
      n += 1
    }
  }
}
