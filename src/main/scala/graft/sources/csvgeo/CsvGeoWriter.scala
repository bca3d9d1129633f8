package graft.sources.csvgeo

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

import graft.geom.GeomCodec
import graft.sources.{FeatureSink, GdalOptions, GeometryColumn, Part, PartWriter, TextPart}

/** CSV-geo write path (GDAL CSV driver's `GEOMETRY=AS_WKT` convention):
  * per-partition `part-NNNNN.csv` files, geometry serialized as WKT in its
  * own column, other values CSV-quoted; Date/Timestamp as ISO strings.
  * A geometry column is required (reference CannotFindGeometryColumn
  * semantics, src/error.rs:52-54) but may be entirely null per row. */
object CsvGeoSink extends FeatureSink {
  override def extensions: Seq[String] = Seq(".csv")
  override def writer(part: Part, schema: StructType, geometry: GeometryColumn,
      opts: GdalOptions): PartWriter =
    new TextPart(part.files(0), schema.fieldNames.map(quote).mkString(",") + "\n", "") {
      override def write(row: InternalRow): Unit = {
        val cells = schema.fields.indices.map { i =>
          if (row.isNullAt(i)) ""
          else if (i == geometry.index) quote(GeomCodec.toWkt(geometry.read(row)))
          else cell(row, i, schema.fields(i).dataType)
        }
        out.write(cells.mkString(","))
        out.write("\n")
        n += 1
      }
    }

  private def cell(row: InternalRow, i: Int, dt: DataType): String = dt match {
    case IntegerType => row.getInt(i).toString
    case LongType => row.getLong(i).toString
    case DoubleType => row.getDouble(i).toString
    case FloatType => row.getFloat(i).toString
    case BooleanType => row.getBoolean(i).toString
    case StringType => quote(row.getUTF8String(i).toString)
    case DateType => DateTimeUtils.toJavaDate(row.getInt(i)).toString
    case TimestampType => DateTimeUtils.toJavaTimestamp(row.getLong(i)).toInstant.toString
    case other => quote(String.valueOf(row.get(i, other)))
  }

  private def quote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
}
