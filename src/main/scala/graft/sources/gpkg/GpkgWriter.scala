package graft.sources.gpkg

import java.io.{File, FileOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import graft.sources.{FeatureSink, GdalOptions, GeometryColumn, Part, PartWriter}
import graft.sources.spatialite.SqliteWriter

/** GeoPackage write path: per-partition `part-NNNNN.gpkg`, each a
  * self-contained OGC GeoPackage (gpkg_spatial_ref_sys + gpkg_contents +
  * gpkg_geometry_columns + the feature table with an `fid INTEGER PRIMARY
  * KEY` living in the rowid) built by the shared [[SqliteWriter]] and
  * stamped with the GPKG application id / user version the spec requires.
  * Readable by our own reader, GDAL, and plain sqlite3. Rows buffer per
  * partition file because b-tree construction needs the full
  * rowid-ordered set; partitions are executor-sized, not corpus-sized. */
object GpkgSink extends FeatureSink {
  override def extensions: Seq[String] = Seq(".gpkg")
  override def writer(part: Part, schema: StructType, geometry: GeometryColumn,
      opts: GdalOptions): PartWriter = new GpkgPart(part.files(0), schema, geometry, opts)

  /** Deterministic last_change (the spec's column is NOT NULL; a wall
    * clock would make writes non-reproducible). */
  val LastChange = "2000-01-01T00:00:00.000Z"

  /** WGS 84 definition for gpkg_spatial_ref_sys (public EPSG text). */
  val Wgs84Wkt: String =
    "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\",SPHEROID[\"WGS 84\"," +
      "6378137,298.257223563]],PRIMEM[\"Greenwich\",0]," +
      "UNIT[\"degree\",0.0174532925199433],AUTHORITY[\"EPSG\",\"4326\"]]"

  /** Stamp the SQLite header fields GeoPackage requires: application_id
    * "GPKG" (offset 68) and user_version 1.3.0 = 10300 (offset 60). */
  def stampHeader(db: Array[Byte]): Array[Byte] = {
    db(68) = 'G'; db(69) = 'P'; db(70) = 'K'; db(71) = 'G'
    val v = 10300
    db(60) = (v >>> 24).toByte; db(61) = ((v >> 16) & 0xFF).toByte
    db(62) = ((v >> 8) & 0xFF).toByte; db(63) = (v & 0xFF).toByte
    db
  }
}

private final class GpkgPart(file: File, schema: StructType, geometry: GeometryColumn,
    opts: GdalOptions) extends PartWriter {
  import GpkgSink._

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
  private var minX = Double.NaN
  private var minY = Double.NaN
  private var maxX = Double.NaN
  private var maxY = Double.NaN
  // Same srs contract as the SpatiaLite writer: an integer srid is the
  // only representable form in a gpkg_spatial_ref_sys row.
  private val srid = opts.srs.map { s =>
    val t = s.trim.toUpperCase.stripPrefix("EPSG:")
    try t.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"gpkg srs must be 'EPSG:nnnn' or an integer srid, got '$s'")
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
        val env = g.getEnvelopeInternal
        if (minX.isNaN || env.getMinX < minX) minX = env.getMinX
        if (minY.isNaN || env.getMinY < minY) minY = env.getMinY
        if (maxX.isNaN || env.getMaxX > maxX) maxX = env.getMaxX
        if (maxY.isNaN || env.getMaxY > maxY) maxY = env.getMaxY
        GpkgGeom.fromJts(g, srid)
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

  private val typeName = Map(1 -> "POINT", 2 -> "LINESTRING", 3 -> "POLYGON",
    4 -> "MULTIPOINT", 5 -> "MULTILINESTRING", 6 -> "MULTIPOLYGON")

  override def rows: Long = records.length.toLong
  override def finish(): Unit = {
    val w = new SqliteWriter()
    def n(d: Double): Any = if (d.isNaN) null else Double.box(d)
    // fid lives in the rowid (INTEGER PRIMARY KEY → null in the record)
    val dataRoot = w.buildTableBtree(records.zipWithIndex.map { case (vals, i) =>
      (i + 1L, w.encodeRecord(null +: (vals.last +: vals.dropRight(1))))
    }.toSeq)
    val srsRows = (Seq(
      (-1L, "Undefined Cartesian SRS", "NONE", -1L, "undefined"),
      (0L, "Undefined Geographic SRS", "NONE", 0L, "undefined"),
      (4326L, "WGS 84", "EPSG", 4326L, Wgs84Wkt)) ++
      (if (srid != 4326 && srid != 0 && srid != -1)
        Seq((srid.toLong, s"EPSG:$srid", "EPSG", srid.toLong, "undefined"))
      else Nil)).sortBy(_._1)
    val srsRoot = w.buildTableBtree(srsRows.map { case (id, name, org, code, defn) =>
      (id, w.encodeRecord(Seq(name, null /* srs_id in rowid */, org, code, defn, null)))
    })
    val contentsRoot = w.buildTableBtree(Seq(
      (1L, w.encodeRecord(Seq(table, "features", table, "", LastChange,
        n(minX), n(minY), n(maxX), n(maxY), srid.toLong)))))
    val gcRoot = w.buildTableBtree(Seq(
      (1L, w.encodeRecord(Seq(table, geomName,
        typeName.getOrElse(firstGeomClass, "GEOMETRY"), srid.toLong, 0L, 0L)))))
    val colDefs = (Seq("fid INTEGER PRIMARY KEY", s"$geomName BLOB") ++
      propFields.map { case (f, _) => s"${f.name} ${sqlType(f.dataType)}" }).mkString(", ")
    val bytes = w.finish(Seq(
      (table, table, dataRoot, s"CREATE TABLE $table($colDefs)"),
      ("gpkg_spatial_ref_sys", "gpkg_spatial_ref_sys", srsRoot,
        "CREATE TABLE gpkg_spatial_ref_sys(srs_name TEXT, srs_id INTEGER PRIMARY KEY, " +
          "organization TEXT, organization_coordsys_id INTEGER, definition TEXT, " +
          "description TEXT)"),
      ("gpkg_contents", "gpkg_contents", contentsRoot,
        "CREATE TABLE gpkg_contents(table_name TEXT, data_type TEXT, identifier TEXT, " +
          "description TEXT, last_change TEXT, min_x REAL, min_y REAL, max_x REAL, " +
          "max_y REAL, srs_id INTEGER)"),
      ("gpkg_geometry_columns", "gpkg_geometry_columns", gcRoot,
        "CREATE TABLE gpkg_geometry_columns(table_name TEXT, column_name TEXT, " +
          "geometry_type_name TEXT, srs_id INTEGER, z TINYINT, m TINYINT)")))
    val out = new FileOutputStream(file)
    try out.write(stampHeader(bytes)) finally out.close()
  }
}
