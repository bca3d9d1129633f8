package graft.geom

import org.locationtech.jts.geom._
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}

import com.fasterxml.jackson.core.JsonFactory
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Geometry codecs over JTS: WKB (the stored form, as in the reference's
  * default — reference src/lib.rs:77-78, 390-393) ⇄ WKT ⇄ GeoJSON.
  *
  * GeoJSON geometry encode/decode is hand-rolled over Jackson (no jts-io
  * GeoJSON module on the classpath); it covers the full RFC 7946 geometry
  * set including nested GeometryCollection.
  *
  * All methods are thread-safe: JTS readers/writers are cheap, so we create
  * them per call group via ThreadLocal (they are NOT thread-safe to share).
  */
object GeomCodec {
  private val factory = new GeometryFactory(new PrecisionModel, 4326)
  private val wkbReader = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  private val wkbWriter = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter)
  private val wktReader = ThreadLocal.withInitial[WKTReader](() => new WKTReader(factory))
  private val wktWriter = ThreadLocal.withInitial[WKTWriter](() => new WKTWriter)
  private val mapper = new ObjectMapper

  def fromWkb(bytes: Array[Byte]): Geometry = wkbReader.get.read(bytes)
  def toWkb(g: Geometry): Array[Byte] = wkbWriter.get.write(g)
  def fromWkt(s: String): Geometry = wktReader.get.read(s)
  def toWkt(g: Geometry): String = wktWriter.get.write(g)

  def wkbToWkt(bytes: Array[Byte]): String = toWkt(fromWkb(bytes))
  /** A 2-D `POINT (x y)` is decoded here, without JTS's tokenizer, into
    * the bytes JTS gives; any other text (`POINT Z`, `POINT EMPTY`, other
    * types, unusual spacing or number forms) goes to JTS. */
  def wktToWkb(s: String): Array[Byte] = {
    val wkb = pointWktToWkb(s)
    if (wkb != null) wkb else toWkb(fromWkt(s))
  }
  def wkbToGeoJson(bytes: Array[Byte]): String = toGeoJson(fromWkb(bytes))
  def geoJsonToWkb(s: String): Array[Byte] = toWkb(fromGeoJson(s))

  /** The WKB of a 2-D point, as JTS's default `WKBWriter` writes it:
    * big-endian, type 1, then x and y. */
  def point(lon: Double, lat: Double): Array[Byte] =
    java.nio.ByteBuffer.allocate(21).put(0.toByte).putInt(1)
      .putLong(java.lang.Double.doubleToLongBits(lon))
      .putLong(java.lang.Double.doubleToLongBits(lat))
      .array()

  /** [[point]] of `POINT (x y)` in any letter case, with spaces, tabs or
    * line breaks around the tokens and plain decimal numbers (optional
    * sign, fraction and exponent); null for any other text. */
  private def pointWktToWkb(s: String): Array[Byte] = {
    var i = skipSpace(s, 0)
    if (!s.regionMatches(true, i, "POINT", 0, 5)) return null
    i = skipSpace(s, i + 5)
    if (i >= s.length || s.charAt(i) != '(') return null
    val xStart = skipSpace(s, i + 1)
    val xEnd = numberEnd(s, xStart)
    if (xEnd < 0) return null
    val yStart = skipSpace(s, xEnd)
    if (yStart == xEnd) return null
    val yEnd = numberEnd(s, yStart)
    if (yEnd < 0) return null
    i = skipSpace(s, yEnd)
    if (i >= s.length || s.charAt(i) != ')' || skipSpace(s, i + 1) != s.length) return null
    point(java.lang.Double.parseDouble(s.substring(xStart, xEnd)),
      java.lang.Double.parseDouble(s.substring(yStart, yEnd)))
  }

  private def skipSpace(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && (s.charAt(i) match {
      case ' ' | '\t' | '\n' | '\r' => true
      case _ => false
    })) i += 1
    i
  }

  /** End of the number `[+-]?(d+(.d*)?|.d+)([eE][+-]?d+)?` at `from`;
    * -1 if none starts there. */
  private def numberEnd(s: String, from: Int): Int = {
    def digits(at: Int): Int = {
      var i = at
      while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      i
    }
    def sign(at: Int): Int =
      if (at < s.length && (s.charAt(at) == '+' || s.charAt(at) == '-')) at + 1 else at
    val intStart = sign(from)
    val intEnd = digits(intStart)
    var i = intEnd
    if (i < s.length && s.charAt(i) == '.') i = digits(i + 1)
    if (intEnd == intStart && i <= intEnd + 1) return -1 // no digit before or after the point
    if (i < s.length && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
      val expStart = sign(i + 1)
      val expEnd = digits(expStart)
      if (expEnd == expStart) return -1
      i = expEnd
    }
    i
  }

  // ---------------------------------------------------------------- GeoJSON

  def toGeoJson(g: Geometry): String = {
    val sb = new java.lang.StringBuilder(64)
    writeGeom(g, sb)
    sb.toString
  }

  private def writeNum(d: Double, sb: java.lang.StringBuilder): Unit = {
    if (d == d.toLong.toDouble) sb.append(d.toLong) else sb.append(d)
    ()
  }

  private def writeCoord(c: Coordinate, sb: java.lang.StringBuilder): Unit = {
    sb.append('['); writeNum(c.x, sb); sb.append(','); writeNum(c.y, sb)
    if (!c.getZ.isNaN) { sb.append(','); writeNum(c.getZ, sb) }
    sb.append(']'); ()
  }

  private def writeCoords(cs: Array[Coordinate], sb: java.lang.StringBuilder): Unit = {
    sb.append('[')
    var i = 0
    while (i < cs.length) {
      if (i > 0) sb.append(','); writeCoord(cs(i), sb); i += 1
    }
    sb.append(']'); ()
  }

  private def writePolygonCoords(p: Polygon, sb: java.lang.StringBuilder): Unit = {
    sb.append('[')
    writeCoords(p.getExteriorRing.getCoordinates, sb)
    var i = 0
    while (i < p.getNumInteriorRing) {
      sb.append(','); writeCoords(p.getInteriorRingN(i).getCoordinates, sb); i += 1
    }
    sb.append(']'); ()
  }

  private def writeGeom(g: Geometry, sb: java.lang.StringBuilder): Unit = {
    g match {
      case p: Point =>
        sb.append("""{"type":"Point","coordinates":""")
        writeCoord(p.getCoordinate, sb); sb.append('}')
      case l: LineString =>
        sb.append("""{"type":"LineString","coordinates":""")
        writeCoords(l.getCoordinates, sb); sb.append('}')
      case p: Polygon =>
        sb.append("""{"type":"Polygon","coordinates":""")
        writePolygonCoords(p, sb); sb.append('}')
      case m: MultiPoint =>
        sb.append("""{"type":"MultiPoint","coordinates":[""")
        for (i <- 0 until m.getNumGeometries) {
          if (i > 0) sb.append(',')
          writeCoord(m.getGeometryN(i).asInstanceOf[Point].getCoordinate, sb)
        }
        sb.append("]}")
      case m: MultiLineString =>
        sb.append("""{"type":"MultiLineString","coordinates":[""")
        for (i <- 0 until m.getNumGeometries) {
          if (i > 0) sb.append(',')
          writeCoords(m.getGeometryN(i).getCoordinates, sb)
        }
        sb.append("]}")
      case m: MultiPolygon =>
        sb.append("""{"type":"MultiPolygon","coordinates":[""")
        for (i <- 0 until m.getNumGeometries) {
          if (i > 0) sb.append(',')
          writePolygonCoords(m.getGeometryN(i).asInstanceOf[Polygon], sb)
        }
        sb.append("]}")
      case gc: GeometryCollection =>
        sb.append("""{"type":"GeometryCollection","geometries":[""")
        for (i <- 0 until gc.getNumGeometries) {
          if (i > 0) sb.append(',')
          writeGeom(gc.getGeometryN(i), sb)
        }
        sb.append("]}")
      case other =>
        throw new IllegalArgumentException(s"Unsupported geometry: ${other.getGeometryType}")
    }
    ()
  }

  def fromGeoJson(s: String): Geometry = fromGeoJsonNode(mapper.readTree(s))

  /** `toWkb(fromGeoJsonNode(node))`; a Point goes straight to [[point]],
    * which writes the same 2-D bytes (a Z ordinate is dropped either way). */
  def geoJsonNodeToWkb(node: JsonNode): Array[Byte] =
    if (node.get("type").asText == "Point") {
      val c = readCoord(node.get("coordinates"))
      point(c.x, c.y)
    } else toWkb(fromGeoJsonNode(node))

  def fromGeoJsonNode(node: JsonNode): Geometry = {
    val typ = node.get("type").asText
    def coords = node.get("coordinates")
    typ match {
      case "Point" => factory.createPoint(readCoord(coords))
      case "LineString" => factory.createLineString(readCoordArray(coords))
      case "Polygon" => readPolygon(coords)
      case "MultiPoint" =>
        factory.createMultiPoint(
          (0 until coords.size).map(i => factory.createPoint(readCoord(coords.get(i)))).toArray)
      case "MultiLineString" =>
        factory.createMultiLineString(
          (0 until coords.size).map(i => factory.createLineString(readCoordArray(coords.get(i)))).toArray)
      case "MultiPolygon" =>
        factory.createMultiPolygon(
          (0 until coords.size).map(i => readPolygon(coords.get(i))).toArray)
      case "GeometryCollection" =>
        val gs = node.get("geometries")
        factory.createGeometryCollection(
          (0 until gs.size).map(i => fromGeoJsonNode(gs.get(i))).toArray)
      case other => throw new IllegalArgumentException(s"Unsupported GeoJSON type: $other")
    }
  }

  private def readCoord(n: JsonNode): Coordinate =
    if (n.size > 2) new Coordinate(n.get(0).asDouble, n.get(1).asDouble, n.get(2).asDouble)
    else new Coordinate(n.get(0).asDouble, n.get(1).asDouble)

  private def readCoordArray(n: JsonNode): Array[Coordinate] =
    (0 until n.size).map(i => readCoord(n.get(i))).toArray

  private def readPolygon(n: JsonNode): Polygon = {
    val shell = factory.createLinearRing(readCoordArray(n.get(0)))
    val holes = (1 until n.size).map(i => factory.createLinearRing(readCoordArray(n.get(i)))).toArray
    factory.createPolygon(shell, holes)
  }
}
