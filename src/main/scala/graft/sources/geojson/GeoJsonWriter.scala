package graft.sources.geojson

import java.io.Writer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, DateTimeUtils}
import org.apache.spark.sql.types._

import graft.geom.GeomCodec
import graft.sources.{FeatureSink, GdalOptions, GeometryColumn, Part, PartWriter, TextPart}

/** GeoJSON write path (reference W1/W3 — src/lib.rs:499-573, 629-642),
  * Spark-shaped: each partition writes `part-NNNNN.geojson` (a complete
  * FeatureCollection), the driver commit enforces the reference's
  * EmptyDataframe error (src/lib.rs:509-511). We close the reference's
  * `todo!()` gaps for Date/Timestamp/List property values
  * (src/lib.rs:661-665) by emitting ISO-8601 strings / JSON arrays.
  *
  * Scale note: per-partition files mean the write is embarrassingly
  * parallel (a "GeoJSON-seq of collections"); the strict single-document
  * form is available via [[graft.GdalWrite.toBytes]] (inherently
  * single-node, W2 parity).
  */
object GeoJsonRowSerializer {
  def writeFeature(row: InternalRow, schema: StructType, geometry: GeometryColumn,
      out: Writer): Unit = {
    val geomIdx = geometry.index
    out.write("""{"type":"Feature","geometry":""")
    val g = geometry.read(row)
    out.write(if (g == null) "null" else GeomCodec.toGeoJson(g))
    out.write(""","properties":{""")
    var first = true
    var i = 0
    while (i < schema.length) {
      if (i != geomIdx && !row.isNullAt(i)) { // null props skipped (ref :562-567)
        schema.fields(i).dataType match {
          case BinaryType => () // non-geometry binary prop: skipped (ref :667-668)
          case dt =>
            if (!first) out.write(",")
            first = false
            out.write(jsonString(schema.fields(i).name))
            out.write(":")
            writeValue(row, i, dt, out)
        }
      }
      i += 1
    }
    out.write("}}")
  }

  private def writeValue(row: InternalRow, i: Int, dt: DataType, out: Writer): Unit = dt match {
    case IntegerType => out.write(row.getInt(i).toString)
    case LongType => out.write(row.getLong(i).toString)
    case DoubleType => out.write(row.getDouble(i).toString)
    case FloatType => out.write(row.getFloat(i).toString)
    case BooleanType => out.write(row.getBoolean(i).toString)
    case StringType => out.write(jsonString(row.getUTF8String(i).toString))
    case DateType => // closes reference todo!() at src/lib.rs:661
      out.write(jsonString(DateTimeUtils.toJavaDate(row.getInt(i)).toString))
    case TimestampType => // closes reference todo!() at src/lib.rs:663
      out.write(jsonString(
        DateTimeUtils.toJavaTimestamp(row.getLong(i)).toInstant.toString))
    case ArrayType(et, _) => // closes reference todo!() at src/lib.rs:665
      val arr = row.getArray(i)
      out.write("[")
      var j = 0
      while (j < arr.numElements) {
        if (j > 0) out.write(",")
        writeArrayElem(arr, j, et, out)
        j += 1
      }
      out.write("]")
    case other => out.write(jsonString(row.get(i, other).toString))
  }

  private def writeArrayElem(arr: ArrayData, j: Int, et: DataType, out: Writer): Unit =
    if (arr.isNullAt(j)) out.write("null")
    else et match {
      case IntegerType => out.write(arr.getInt(j).toString)
      case LongType => out.write(arr.getLong(j).toString)
      case DoubleType => out.write(arr.getDouble(j).toString)
      case StringType => out.write(jsonString(arr.getUTF8String(j).toString))
      case other => out.write(jsonString(arr.get(j, other).toString))
    }

  def jsonString(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
    sb.toString
  }
}

/** `part-NNNNN.geojson`: one FeatureCollection per part. */
object GeoJsonSink extends FeatureSink {
  override def extensions: Seq[String] = Seq(".geojson")
  override def writer(part: Part, schema: StructType, geometry: GeometryColumn,
      opts: GdalOptions): PartWriter =
    new TextPart(part.files(0), """{"type":"FeatureCollection","features":[""", "\n]}\n") {
      override def write(row: InternalRow): Unit = {
        if (n > 0) out.write(",")
        out.write("\n")
        GeoJsonRowSerializer.writeFeature(row, schema, geometry, out)
        n += 1
      }
    }
}
