package graft

import java.io.{BufferedReader, File, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

import scala.io.Source

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.catalyst.util.{DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geom.GeomCodec
import graft.sources.{GdalOptions, RawFeature}
import graft.sources.spatialite.SqliteFile

/** The readers' earlier, straightforward decode, kept as the oracle the
  * token-level readers are checked against: a Jackson tree per GeoJSON
  * feature (`readValueAsTree` / `readTree` of each GeoJSONSeq line read by
  * `BufferedReader.readLine`), csvgeo props built by index filtering,
  * SQLite rows built by walking the column list, and row conversion
  * matched per cell on (value, type). Each reader returns an iterator with
  * the same laziness as the reader it stands for. */
object TreeReaders {
  private val mapper = new ObjectMapper

  // ------------------------------------------------------------- GeoJSON

  private def seekFeatures(parser: JsonParser): Boolean = {
    var inFeatures = false
    var t = parser.nextToken()
    if (t == JsonToken.START_ARRAY) inFeatures = true
    else {
      var depth = 0
      while (!inFeatures && t != null) {
        t = parser.nextToken()
        t match {
          case JsonToken.START_OBJECT | JsonToken.START_ARRAY => depth += 1
          case JsonToken.END_OBJECT | JsonToken.END_ARRAY => depth -= 1
          case JsonToken.FIELD_NAME if depth == 0 && parser.currentName == "features" =>
            if (parser.nextToken() == JsonToken.START_ARRAY) inFeatures = true
          case _ => ()
        }
      }
    }
    inFeatures
  }

  /** A FeatureCollection file, one tree per feature, read one ahead. */
  def geoJson(path: String): Iterator[RawFeature] = {
    val parser = new ObjectMapper().getFactory.createParser(new File(path))
    val inFeatures = seekFeatures(parser)
    var idx = -1L
    new Iterator[RawFeature] {
      private var nextNode: ObjectNode = advance()
      private def advance(): ObjectNode =
        if (!inFeatures) null
        else parser.nextToken() match {
          case JsonToken.START_OBJECT => parser.readValueAsTree[ObjectNode]()
          case _ => null
        }
      override def hasNext: Boolean = nextNode != null
      override def next(): RawFeature = {
        val node = nextNode
        nextNode = advance()
        idx += 1
        toFeature(node, idx)
      }
    }
  }

  /** A GeoJSONSeq file, one `readTree` per non-blank line. */
  def geoJsonSeq(path: String): Iterator[RawFeature] = {
    val in = new BufferedReader(
      new InputStreamReader(new FileInputStream(path), StandardCharsets.UTF_8))
    var idx = -1L
    Iterator.continually(in.readLine()).takeWhile(_ != null)
      .map(_.replace("\u001e", "").trim)
      .filter(_.nonEmpty)
      .map { line =>
        idx += 1
        toFeature(mapper.readTree(line).asInstanceOf[ObjectNode], idx)
      }
  }

  private def toFeature(node: ObjectNode, idx: Long): RawFeature = {
    val fid = Option(node.get("id")).filter(_.canConvertToLong).map(_.asLong).getOrElse(idx)
    val geom = Option(node.get("geometry")).filter(!_.isNull)
      .map(g => GeomCodec.toWkb(GeomCodec.fromGeoJsonNode(g))).orNull
    val props = Option(node.get("properties")).filter(_.isObject) match {
      case Some(p) =>
        val it = p.fields()
        val buf = scala.collection.mutable.ArrayBuffer[(String, Any)]()
        while (it.hasNext) {
          val e = it.next()
          buf += e.getKey -> jsonValue(e.getValue)
        }
        buf.toIndexedSeq
      case None => IndexedSeq.empty
    }
    RawFeature(fid, geom, props)
  }

  private def jsonValue(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isIntegralNumber) { if (n.canConvertToInt) n.asInt else n.asLong }
    else if (n.isNumber) n.asDouble
    else if (n.isBoolean) n.asBoolean
    else if (n.isTextual) n.asText
    else if (n.isArray) (0 until n.size).map(i => jsonValue(n.get(i)))
    else n.toString

  // ------------------------------------------------------------- csvgeo

  def csvGeo(path: String, opts: GdalOptions): Iterator[RawFeature] = {
    val lines = Source.fromFile(path, "UTF-8").getLines()
    if (!lines.hasNext) return Iterator.empty
    val header = parseLine(lines.next())
    def findIdx(globs: Seq[String]): Option[Int] = {
      val regexes = globs.map(g =>
        ("(?i)^" + java.util.regex.Pattern.quote(g).replace("*", "\\E.*\\Q") + "$").r)
      header.indices.find(i => regexes.exists(_.findFirstIn(header(i)).isDefined))
    }
    val xIdx = findIdx(opts.xPossibleNames)
    val yIdx = findIdx(opts.yPossibleNames)
    val geomIdx = findIdx(Seq(opts.geometryColumnName, "wkt*", "*_wkt"))
    var idx = -1L
    lines.filter(_.nonEmpty).map { line =>
      idx += 1
      val cells = parseLine(line)
      def cellAt(i: Int): String = if (i < cells.length) cells(i) else ""
      val geom = geomIdx match {
        case Some(gi) if cellAt(gi).nonEmpty =>
          try GeomCodec.toWkb(GeomCodec.fromWkt(cells(gi))) catch { case _: Exception => null }
        case _ => (xIdx, yIdx) match {
          case (Some(xi), Some(yi)) =>
            try GeomCodec.toWkb(new org.locationtech.jts.geom.GeometryFactory(
              new org.locationtech.jts.geom.PrecisionModel, 4326).createPoint(
              new org.locationtech.jts.geom.Coordinate(cellAt(xi).toDouble, cellAt(yi).toDouble)))
            catch { case _: NumberFormatException => null }
          case _ => null
        }
      }
      val props = header.indices.filter(i => !geomIdx.contains(i)).map { i =>
        val raw = cellAt(i)
        header(i) -> (if (raw.isEmpty) null else if (opts.autodetectTypes) detect(raw) else raw)
      }
      RawFeature(idx, geom, props)
    }
  }

  private def detect(s: String): Any =
    try java.lang.Long.valueOf(s.toLong)
    catch {
      case _: NumberFormatException =>
        try java.lang.Double.valueOf(s.toDouble)
        catch { case _: NumberFormatException => s }
    }

  private def parseLine(line: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { sb.append('"'); i += 1 }
          else inQuotes = false
        } else sb.append(c)
      } else c match {
        case '"' => inQuotes = true
        case ',' => out += sb.toString; sb.clear()
        case _ => sb.append(c)
      }
      i += 1
    }
    out += sb.toString
    out.toIndexedSeq
  }

  // ------------------------------------------------------------- convert

  /** A prop value as a column of type `dt`, matched per cell. */
  def toCatalyst(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (i: Int, IntegerType) => i
    case (i: Int, LongType) => i.toLong
    case (i: Int, DoubleType) => i.toDouble
    case (l: Long, LongType) => l
    case (l: Long, DoubleType) => l.toDouble
    case (d: Double, DoubleType) => d
    case (b: Boolean, BooleanType) => b
    case (s: String, StringType) => UTF8String.fromString(s)
    case (b: Array[Byte], BinaryType) => b
    case (d: java.sql.Date, DateType) => DateTimeUtils.fromJavaDate(d)
    case (t: java.sql.Timestamp, TimestampType) => DateTimeUtils.fromJavaTimestamp(t)
    case (s: Seq[_], ArrayType(et, _)) =>
      new GenericArrayData(s.map(e => toCatalyst(e, et)).toArray)
    case (other, StringType) => UTF8String.fromString(other.toString)
    case _ => null
  }

  // ------------------------------------------------------------- SQLite

  /** The rows of the table at `rootPage`, whose CREATE statement is `sql`,
    * with `geomCol` decoded by `blobToWkb`. */
  def sqliteRows(path: String, rootPage: Int, sql: String, geomCol: Option[String],
      blobToWkb: Array[Byte] => Array[Byte]): Iterator[RawFeature] = {
    val f = new SqliteFile(path)
    val cols = SqliteFile.columnsOf(sql).toList
    val geomIdx = geomCol.flatMap(g =>
      cols.indexWhere(_._1.equalsIgnoreCase(g)) match {
        case -1 => None
        case i => Some(i)
      })
    f.scanCells(rootPage).map { case (rowid, payload) =>
      val vals = f.decodeRecord(payload)
      val props = cols.indices.flatMap { i =>
        val (name, isIpk) = cols(i)
        if (geomIdx.contains(i)) None
        else Some(name -> (if (isIpk) rowid else if (i < vals.length) vals(i) else null))
      }
      val wkb = geomIdx.flatMap(i =>
        if (i < vals.length) vals(i) match {
          case b: Array[Byte] => Option(blobToWkb(b))
          case _ => None
        } else None).orNull
      RawFeature(rowid, wkb, props)
    }
  }
}
