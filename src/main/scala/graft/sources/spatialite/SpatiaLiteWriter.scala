package graft.sources.spatialite

import java.io.{File, FileOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import graft.sources.{FeatureSink, GdalOptions, GeometryColumn, Part, PartWriter}

/** SpatiaLite write path: per-partition `part-NNNNN.sqlite`, each a
  * self-contained database (sqlite_master + geometry_columns + the data
  * table, geometries as SpatiaLite blobs) built by [[SqliteWriter]] —
  * readable by our own reader, GDAL/spatialite, and plain sqlite3
  * (conformance-tested against python's sqlite3). The layer/table name
  * comes from `layerName` (default "layer"). Rows buffer per partition
  * file because b-tree construction needs the full rowid-ordered set;
  * partitions are executor-sized, not corpus-sized. */
object SpatiaLiteSink extends FeatureSink {
  override def extensions: Seq[String] = Seq(".sqlite")
  override def writer(part: Part, schema: StructType, geometry: GeometryColumn,
      opts: GdalOptions): PartWriter = new SpatiaLitePart(part.files(0), schema, geometry, opts)
}

private final class SpatiaLitePart(file: File, schema: StructType, geometry: GeometryColumn,
    opts: GdalOptions) extends PartWriter {
  private val geomIdx = geometry.index
  private val geomName = opts.geometryColumnName
  private val table = opts.layerName.getOrElse("layer")
  private val propFields = schema.fields.zipWithIndex.filter(_._2 != geomIdx)

  private def sqlType(dt: DataType): String = dt match {
    case IntegerType | LongType | BooleanType => "INTEGER"
    case DoubleType | FloatType => "REAL"
    case BinaryType => "BLOB"
    case _ => "TEXT"
  }

  private val records = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
  private var firstGeomClass = 0
  // reference WriteParams.srs (src/lib.rs:106): SpatiaLite stores an
  // integer srid, so only "EPSG:nnnn" or a bare number is representable —
  // raw WKT (valid for .prj-based formats) fails loudly here
  private val srid = opts.srs.map { s =>
    val t = s.trim.toUpperCase.stripPrefix("EPSG:")
    try t.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"spatialite srs must be 'EPSG:nnnn' or an integer srid, got '$s'")
    }
  }.getOrElse(4326)

  override def write(row: InternalRow): Unit = {
    val g = geometry.read(row)
    val geomBlob: Array[Byte] =
      if (g == null) null
      else {
        if (firstGeomClass == 0) firstGeomClass = g match {
          case _: org.locationtech.jts.geom.Point => 1
          case _: org.locationtech.jts.geom.LineString => 2
          case _: org.locationtech.jts.geom.Polygon => 3
          case _: org.locationtech.jts.geom.MultiPoint => 4
          case _: org.locationtech.jts.geom.MultiLineString => 5
          case _: org.locationtech.jts.geom.MultiPolygon => 6
          case _ => 7
        }
        SpatiaLiteGeom.fromJts(g, srid = srid)
      }
    val vals = propFields.map { case (f, i) =>
      if (row.isNullAt(i)) null
      else f.dataType match {
        case IntegerType => Long.box(row.getInt(i).toLong)
        case LongType => Long.box(row.getLong(i))
        case BooleanType => Long.box(if (row.getBoolean(i)) 1L else 0L)
        case DoubleType => Double.box(row.getDouble(i))
        case FloatType => Double.box(row.getFloat(i).toDouble)
        case StringType => row.getUTF8String(i).toString
        case BinaryType => row.getBinary(i)
        case dt => row.get(i, dt).toString
      }
    }.toSeq
    records += (vals :+ geomBlob)
  }

  override def rows: Long = records.length.toLong
  override def finish(): Unit = {
    val w = new SqliteWriter()
    // data table b-tree
    val dataRoot = w.buildTableBtree(records.zipWithIndex.map { case (vals, i) =>
      (i + 1L, w.encodeRecord(vals))
    }.toSeq)
    // geometry_columns metadata (what our reader and GDAL list as layers)
    val gcRoot = w.buildTableBtree(Seq(
      (1L, w.encodeRecord(Seq(table, geomName, firstGeomClass.toLong, 2L, srid.toLong, 0L)))))
    val colDefs = (propFields.map { case (f, _) => s"${f.name} ${sqlType(f.dataType)}" } :+
      s"$geomName BLOB").mkString(", ")
    val bytes = w.finish(Seq(
      (table, table, dataRoot, s"CREATE TABLE $table($colDefs)"),
      ("geometry_columns", "geometry_columns", gcRoot,
        "CREATE TABLE geometry_columns(f_table_name TEXT, f_geometry_column TEXT, " +
          "geometry_type INTEGER, coord_dimension INTEGER, srid INTEGER, " +
          "spatial_index_enabled INTEGER)")))
    val out = new FileOutputStream(file)
    try out.write(bytes) finally out.close()
  }
}
