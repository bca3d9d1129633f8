package graft.sources.csvgeo

import scala.collection.immutable.ArraySeq
import scala.io.Source

import org.apache.spark.sql.types.{DataType, NullType, StringType}

import graft.geom.GeomCodec
import graft.sources._

/** Lat/lon CSV reader — the reference's GDAL-CSV-with-open-options path
  * (`X_POSSIBLE_NAMES=Lon*` etc., reference README.md:46-54, fixture
  * lat_lon_countries.csv). Columns matched by the x/y glob patterns are
  * parsed as lon/lat and synthesized into a point geometry; all columns
  * stay string-typed unless `autodetectTypes` is set (GDAL's
  * AUTODETECT_TYPE default-off behavior).
  */
class CsvGeoFormat extends FeatureFormat {
  override def extensions: Seq[String] = Seq(".csv")

  override def open(path: String, opts: GdalOptions): FeatureIterator = {
    val src = Source.fromFile(path, "UTF-8")
    val lines = src.getLines()
    if (!lines.hasNext) { src.close(); return FeatureIterator(Iterator.empty) }
    val header = parseLine(lines.next())
    val xIdx = findIdx(header, opts.xPossibleNames)
    val yIdx = findIdx(header, opts.yPossibleNames)
    // WKT geometry column (GDAL GEOM_POSSIBLE_NAMES analog) — also what our
    // csvgeo writer emits, so write→read round-trips.
    val geomIdx = findIdx(header, Seq(opts.geometryColumnName, "wkt*", "*_wkt"))

    var idx = -1L
    val it = lines.filter(_.nonEmpty).map { line =>
      idx += 1
      val cells = parseLine(line)
      def cellAt(i: Int): String = if (i < cells.length) cells(i) else ""
      val geom = geomIdx match {
        case Some(gi) if cellAt(gi).nonEmpty =>
          try GeomCodec.wktToWkb(cells(gi)) catch { case _: Exception => null }
        case _ => (xIdx, yIdx) match {
          case (Some(xi), Some(yi)) =>
            try GeomCodec.point(cellAt(xi).toDouble, cellAt(yi).toDouble)
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
    FeatureIterator(it, () => src.close())
  }

  /** Types from the cells' emptiness alone: every filled cell is a
    * string, so no WKT or lon/lat is decoded.
    * With `autodetectTypes` the cells are parsed and typed by [[detect]]. */
  override def openTypes(path: String, opts: GdalOptions): TypeIterator = {
    val src = Source.fromFile(path, "UTF-8")
    val lines = src.getLines()
    if (!lines.hasNext) { src.close(); return TypeIterator(Iterator.empty) }
    val header = parseLine(lines.next())
    val geomIdx = findIdx(header, Seq(opts.geometryColumnName, "wkt*", "*_wkt"))
    val cols = header.indices.filter(i => !geomIdx.contains(i)).toArray
    val strings = cols.map(i => (header(i), StringType))
    val nulls = cols.map(i => (header(i), NullType))
    val it = lines.filter(_.nonEmpty).map { line =>
      val cells = parseLine(line)
      val out = new Array[(String, DataType)](cols.length)
      var k = 0
      while (k < cols.length) {
        val i = cols(k)
        val raw = if (i < cells.length) cells(i) else ""
        out(k) =
          if (raw.isEmpty) nulls(k)
          else if (opts.autodetectTypes) (header(i), SchemaInference.typeOf(detect(raw)))
          else strings(k)
        k += 1
      }
      ArraySeq.unsafeWrapArray(out): SchemaInference.FeatureTypes
    }
    TypeIterator(it, () => src.close())
  }

  private def detect(s: String): Any =
    try java.lang.Long.valueOf(s.toLong)
    catch {
      case _: NumberFormatException =>
        try java.lang.Double.valueOf(s.toDouble)
        catch { case _: NumberFormatException => s }
    }

  private def findIdx(header: IndexedSeq[String], globs: Seq[String]): Option[Int] = {
    val regexes = globs.map(g =>
      ("(?i)^" + java.util.regex.Pattern.quote(g).replace("*", "\\E.*\\Q") + "$").r)
    header.indices.find(i => regexes.exists(_.findFirstIn(header(i)).isDefined))
  }

  /** RFC-4180-ish line parse: commas, double quotes, escaped quotes. */
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
}

/** `spark.read.format("csvgeo")` / `df.write.format("csvgeo")` */
class CsvGeoSourceProvider extends WritableFeatureSourceProvider {
  override def shortName(): String = "csvgeo"
  override def format: FeatureFormat = new CsvGeoFormat
  protected override def newTable(schema: org.apache.spark.sql.types.StructType,
      files: Seq[String], opts: GdalOptions): org.apache.spark.sql.connector.catalog.Table =
    new CsvGeoTable(schema, files, opts, format)
}

class CsvGeoTable(schema: org.apache.spark.sql.types.StructType, files: Seq[String],
    opts: GdalOptions, format: FeatureFormat)
  extends FeatureTable("csvgeo", schema, files, opts, format)
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.catalog.TableCapability
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.WriteBuilder = new CsvGeoWriteBuilder(info)
}
