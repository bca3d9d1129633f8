package graft.sources.shapefile

import java.io.{File, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.locationtech.jts.algorithm.Orientation
import org.locationtech.jts.geom._
import org.locationtech.jts.geom.impl.CoordinateArraySequence

/** Low-level ESRI Shapefile writer: one .shp/.shx/.dbf triple, headers
  * patched on close (record counts, byte lengths, bounding box). Covers
  * the 2D types: Point, MultiPoint, PolyLine (Line/MultiLineString),
  * Polygon (Polygon/MultiPolygon; shells forced clockwise, holes
  * counter-clockwise per spec). */
final class ShpWriter(shpFile: File, shxFile: File, dbfFile: File, fields: Seq[Dbf.Field],
    forcedShapeType: Int = 0) {
  private val shp = new RandomAccessFile(shpFile, "rw")
  private val shx = new RandomAccessFile(shxFile, "rw")
  private val dbf = new RandomAccessFile(dbfFile, "rw")
  shp.setLength(0); shx.setLength(0); dbf.setLength(0)

  private var recNum = 0
  // explicit layer type (reference WriteParams.geometry_type) or 0 =
  // resolved from the first non-null geometry (src/lib.rs:529-540)
  private var shapeType = forcedShapeType

  /** Record type must match the layer type once resolved — a mismatched
    * forced type would otherwise write a header that contradicts every
    * record, i.e. a silently corrupt file. */
  private def claimType(typ: Int): Unit =
    if (shapeType == 0) shapeType = typ
    else if (shapeType != typ) throw new IllegalArgumentException(
      s"shapefile layer is type $shapeType but geometry encodes as type $typ — " +
        "geometryType option and data disagree")
  private var minX = Double.MaxValue; private var minY = Double.MaxValue
  private var maxX = Double.MinValue; private var maxY = Double.MinValue

  private val recordLen = 1 + fields.map(_.length).sum

  // placeholder headers; patched in close()
  shp.write(new Array[Byte](100))
  shx.write(new Array[Byte](100))
  writeDbfHeader(0)

  def write(geom: Geometry, values: Seq[Any]): Unit = {
    recNum += 1
    val content = encodeShape(geom)
    val offsetWords = (shp.getFilePointer / 2).toInt
    val rec = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
    rec.putInt(recNum).putInt(content.length / 2)
    shp.write(rec.array()); shp.write(content)
    val idx = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
    idx.putInt(offsetWords).putInt(content.length / 2)
    shx.write(idx.array())
    writeDbfRecord(values)
  }

  private def encodeShape(geom: Geometry): Array[Byte] = {
    if (geom == null || geom.isEmpty) {
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(0) // Null Shape
      return b.array()
    }
    val env = geom.getEnvelopeInternal
    minX = math.min(minX, env.getMinX); minY = math.min(minY, env.getMinY)
    maxX = math.max(maxX, env.getMaxX); maxY = math.max(maxY, env.getMaxY)
    geom match {
      case p: Point =>
        claimType(1)
        val b = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
        b.putInt(1).putDouble(p.getX).putDouble(p.getY)
        b.array()
      case mp: MultiPoint =>
        claimType(8)
        val n = mp.getNumGeometries
        val b = ByteBuffer.allocate(4 + 32 + 4 + 16 * n).order(ByteOrder.LITTLE_ENDIAN)
        b.putInt(8)
        putBox(b, env); b.putInt(n)
        for (i <- 0 until n) {
          val c = mp.getGeometryN(i).asInstanceOf[Point].getCoordinate
          b.putDouble(c.x).putDouble(c.y)
        }
        b.array()
      case l: LineString => encodeParts(3, env, Array(l.getCoordinates))
      case ml: MultiLineString =>
        encodeParts(3, env,
          Array.tabulate(ml.getNumGeometries)(i => ml.getGeometryN(i).getCoordinates))
      case p: Polygon => encodeParts(5, env, polygonRings(p))
      case mp: MultiPolygon =>
        encodeParts(5, env,
          (0 until mp.getNumGeometries).flatMap(i =>
            polygonRings(mp.getGeometryN(i).asInstanceOf[Polygon])).toArray)
      case other =>
        throw new IllegalArgumentException(s"Cannot write ${other.getGeometryType} to shapefile")
    }
  }

  /** Rings with spec orientation: shell clockwise, holes counter-clockwise. */
  private def polygonRings(p: Polygon): Array[Array[Coordinate]] = {
    def oriented(cs: Array[Coordinate], wantCCW: Boolean): Array[Coordinate] =
      if (Orientation.isCCW(new CoordinateArraySequence(cs)) == wantCCW) cs else cs.reverse
    val shell = oriented(p.getExteriorRing.getCoordinates, wantCCW = false)
    val holes = Array.tabulate(p.getNumInteriorRing)(i =>
      oriented(p.getInteriorRingN(i).getCoordinates, wantCCW = true))
    shell +: holes
  }

  private def encodeParts(typ: Int, env: Envelope,
      parts: Array[Array[Coordinate]]): Array[Byte] = {
    claimType(typ)
    val nPoints = parts.map(_.length).sum
    val b = ByteBuffer.allocate(4 + 32 + 8 + 4 * parts.length + 16 * nPoints)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(typ)
    putBox(b, env)
    b.putInt(parts.length).putInt(nPoints)
    var off = 0
    for (p <- parts) { b.putInt(off); off += p.length }
    for (p <- parts; c <- p) b.putDouble(c.x).putDouble(c.y)
    b.array()
  }

  private def putBox(b: ByteBuffer, env: Envelope): Unit = {
    b.putDouble(env.getMinX).putDouble(env.getMinY)
      .putDouble(env.getMaxX).putDouble(env.getMaxY)
    ()
  }

  // --------------------------------------------------------------- dbf

  private def writeDbfHeader(nRecords: Int): Unit = {
    val headerLen = 32 + fields.length * 32 + 1
    val h = ByteBuffer.allocate(headerLen).order(ByteOrder.LITTLE_ENDIAN)
    h.put(0x03.toByte).put(24.toByte).put(1.toByte).put(1.toByte) // dBASE III, date
    h.putInt(nRecords)
    h.putShort(headerLen.toShort).putShort(recordLen.toShort)
    h.position(32)
    for (f <- fields) {
      val fd = new Array[Byte](32)
      val name = f.name.take(10).getBytes(StandardCharsets.US_ASCII)
      System.arraycopy(name, 0, fd, 0, name.length)
      fd(11) = f.typ.toByte
      fd(16) = f.length.toByte
      fd(17) = f.decimals.toByte
      h.put(fd)
    }
    h.put(0x0D.toByte)
    dbf.seek(0); dbf.write(h.array())
  }

  private def writeDbfRecord(values: Seq[Any]): Unit = {
    val rec = new Array[Byte](recordLen)
    java.util.Arrays.fill(rec, ' '.toByte)
    var off = 1
    for ((f, v) <- fields.zip(values)) {
      val s = format(f, v)
      val bytes = s.getBytes(StandardCharsets.ISO_8859_1)
      val n = math.min(bytes.length, f.length)
      if (f.typ == 'N' || f.typ == 'F') // right-justify numerics
        System.arraycopy(bytes, 0, rec, off + f.length - n, n)
      else
        System.arraycopy(bytes, 0, rec, off, n)
      off += f.length
    }
    dbf.write(rec)
  }

  private def format(f: Dbf.Field, v: Any): String = v match {
    case null => ""
    case d: java.sql.Date => d.toString.replace("-", "") // YYYYMMDD
    case b: Boolean => if (b) "T" else "F"
    case d: Double => {
      val s = java.math.BigDecimal.valueOf(d).setScale(f.decimals,
        java.math.RoundingMode.HALF_UP).toPlainString
      if (s.length > f.length) s.take(f.length) else s
    }
    case other => other.toString
  }

  def close(): Unit = {
    val shpLenWords = (shp.getFilePointer / 2).toInt
    val shxLenWords = (shx.getFilePointer / 2).toInt
    if (recNum == 0) { minX = 0; minY = 0; maxX = 0; maxY = 0 }
    patchMainHeader(shp, shpLenWords)
    patchMainHeader(shx, shxLenWords)
    writeDbfHeader(recNum)
    dbf.seek(dbf.length()); dbf.write(0x1A) // EOF marker
    shp.close(); shx.close(); dbf.close()
  }

  private def patchMainHeader(f: RandomAccessFile, lenWords: Int): Unit = {
    val h = ByteBuffer.allocate(100)
    h.order(ByteOrder.BIG_ENDIAN)
    h.putInt(0, 9994)
    h.putInt(24, lenWords)
    h.order(ByteOrder.LITTLE_ENDIAN)
    h.putInt(28, 1000)
    h.putInt(32, shapeType)
    h.putDouble(36, minX); h.putDouble(44, minY)
    h.putDouble(52, maxX); h.putDouble(60, maxY)
    f.seek(0); f.write(h.array())
  }
}

object ShpWriter {
  /** ESRI .prj content for an `srs` option: well-known EPSG codes map to
    * their standard WKT; a raw WKT string (GEOGCS/PROJCS/GEOGCRS…)
    * passes through verbatim. */
  def prjWkt(srs: String): String = srs.trim.toUpperCase match {
    case "EPSG:4326" =>
      """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]"""
    case "EPSG:3857" =>
      """PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Mercator_Auxiliary_Sphere"],PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],PARAMETER["Central_Meridian",0.0],PARAMETER["Standard_Parallel_1",0.0],PARAMETER["Auxiliary_Sphere_Type",0.0],UNIT["Meter",1.0]]"""
    case u if u.startsWith("EPSG:") => throw new IllegalArgumentException(
      s"no builtin WKT for $srs — pass the projection WKT directly")
    case _ => srs.trim // raw WKT passthrough
  }

  /** Map a Spark schema (minus the geometry column) to DBF field specs —
    * GDAL's conventions: C:80, N:18.0 for ints, N:24.15 for reals, L, D. */
  def dbfFields(schema: org.apache.spark.sql.types.StructType,
      geometryCol: String): Seq[Dbf.Field] = {
    import org.apache.spark.sql.types._
    schema.fields.filter(_.name != geometryCol).toSeq.collect {
      case StructField(n, StringType, _, _) => Dbf.Field(n, 'C', 80, 0)
      case StructField(n, IntegerType | LongType, _, _) => Dbf.Field(n, 'N', 18, 0)
      case StructField(n, DoubleType | FloatType, _, _) => Dbf.Field(n, 'N', 24, 15)
      case StructField(n, BooleanType, _, _) => Dbf.Field(n, 'L', 1, 0)
      case StructField(n, DateType, _, _) => Dbf.Field(n, 'D', 8, 0)
      case StructField(n, TimestampType, _, _) => Dbf.Field(n, 'C', 24, 0)
    }
  }
}
