package graft.sources.shapefile

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

import graft.sources.{FeatureSink, GdalOptions, GeometryColumn, Part, PartWriter}

/** Shapefile write path (reference W1 for the ESRI driver): each partition
  * emits a `part-NNNNN.shp/.shx/.dbf` triple, plus a `.prj` when `srs` is
  * set; unsupported column types are silently filtered like the reference
  * (src/lib.rs:514-521). Coalesce to one partition for a classic
  * single-shapefile dataset. */
object ShapefileSink extends FeatureSink {
  override def extensions: Seq[String] = Seq(".shp", ".shx", ".dbf", ".prj")
  override def writer(part: Part, schema: StructType, geometry: GeometryColumn,
      opts: GdalOptions): PartWriter = new ShapefilePart(part.files, schema, geometry, opts)
}

private final class ShapefilePart(files: IndexedSeq[File], schema: StructType,
    geometry: GeometryColumn, opts: GdalOptions) extends PartWriter {
  private val fields = ShpWriter.dbfFields(schema, opts.geometryColumnName)
  private val fieldIdx = fields.map(f => schema.fieldNames.indexOf(f.name))
  private val forcedType = opts.geometryType.map {
    case "point" => 1
    case "linestring" | "multilinestring" => 3 // shp PolyLine covers both
    case "polygon" | "multipolygon" => 5
    case "multipoint" => 8
    case other => throw new IllegalArgumentException(
      s"unsupported shapefile geometryType '$other'")
  }.getOrElse(0)
  private val writer = new ShpWriter(files(0), files(1), files(2), fields, forcedType)
  private var n = 0L

  override def write(row: InternalRow): Unit = {
    val geom = geometry.read(row)
    val values = fieldIdx.map { i =>
      if (row.isNullAt(i)) null
      else schema.fields(i).dataType match {
        case StringType => row.getUTF8String(i).toString
        case IntegerType => row.getInt(i)
        case LongType => row.getLong(i)
        case DoubleType => row.getDouble(i)
        case FloatType => row.getFloat(i).toDouble
        case BooleanType => row.getBoolean(i)
        case DateType => DateTimeUtils.toJavaDate(row.getInt(i))
        case TimestampType => DateTimeUtils.toJavaTimestamp(row.getLong(i)).toInstant.toString
        case _ => null
      }
    }
    writer.write(geom, values)
    n += 1
  }

  override def rows: Long = n
  override def finish(): Unit = {
    writer.close()
    // reference WriteParams.srs (src/lib.rs:106,544): the ESRI sidecar
    opts.srs.foreach(s => java.nio.file.Files.writeString(files(3).toPath, ShpWriter.prjWkt(s)))
  }
  override def close(): Unit = writer.close()
}
