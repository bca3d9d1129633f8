package graft.sources.csvgeo

import java.io.FileInputStream
import java.nio.charset.{MalformedInputException, StandardCharsets}

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.types.{DataType, DoubleType, LongType, NullType, StringType}

import graft.geom.GeomCodec
import graft.sources._

/** Lat/lon CSV reader — the reference's GDAL-CSV-with-open-options path
  * (`X_POSSIBLE_NAMES=Lon*` etc., reference README.md:46-54, fixture
  * lat_lon_countries.csv). Columns matched by the x/y glob patterns are
  * parsed as lon/lat and synthesized into a point geometry; all columns
  * stay string-typed unless `autodetectTypes` is set (GDAL's
  * AUTODETECT_TYPE default-off behavior).
  *
  * The file is UTF-8 (a malformed line fails the read), split into lines
  * as `BufferedReader.readLine` splits them; blank lines are skipped. Cells
  * are parsed as bytes and go into the sink as bytes: no `String` per cell
  * except a WKT geometry's.
  */
class CsvGeoFormat extends ColumnarFormat {
  override def extensions: Seq[String] = Seq(".csv")

  /** The header, its geometry and lon/lat columns and the prop columns:
    * all but the WKT geometry column (GDAL GEOM_POSSIBLE_NAMES analog —
    * also what our csvgeo writer emits, so write→read round-trips). */
  private final class Layout(header: Array[String], opts: GdalOptions) {
    val xIdx: Int = findIdx(header, opts.xPossibleNames)
    val yIdx: Int = findIdx(header, opts.yPossibleNames)
    val geomIdx: Int = findIdx(header, Seq(opts.geometryColumnName, "wkt*", "*_wkt"))
    val cols: Array[Int] = header.indices.filter(_ != geomIdx).toArray
    val names: IndexedSeq[String] = cols.map(header(_)).toIndexedSeq
  }

  /** Opens `path`'s lines with the header read; null layout for an empty file. */
  private def openLines(path: String, opts: GdalOptions): (ByteLines, Layout, CsvGeoFormat.Cells) = {
    val lines = new ByteLines(new FileInputStream(path))
    try {
      val cells = new CsvGeoFormat.Cells
      if (!lines.next()) (lines, null, cells)
      else {
        cells.parse(lines.buf, lines.start, lines.end)
        (lines, new Layout(Array.tabulate(cells.n)(cells.string), opts), cells)
      }
    } catch { case e: Throwable => lines.close(); throw e }
  }

  override def cursor(spec: SplitSpec, opts: GdalOptions, sink: ValueSink): FeatureCursor = {
    val (lines, layout, cells) = openLines(spec.path, opts)
    if (layout == null) return new FeatureCursor {
      override def next(): Boolean = false
      override def close(): Unit = lines.close()
    }
    val slots = sink.bind(layout.names)
    val num = new NumberParser
    import layout._
    var idx = -1L

    def double(i: Int): Double =
      if (i < cells.n) num.double(cells.buf(i), cells.start(i), cells.end(i)) else { num.ok = false; 0.0 }

    new FeatureCursor {
      override def next(): Boolean = {
        while (CsvGeoFormat.nonEmptyLine(lines)) {
          cells.parse(lines.buf, lines.start, lines.end)
          idx += 1
          sink.fid(idx)
          sink.geometry(
            if (geomIdx >= 0 && !cells.empty(geomIdx))
              try GeomCodec.wktToWkb(cells.string(geomIdx)) catch { case _: Exception => null }
            else if (xIdx >= 0 && yIdx >= 0) {
              val x = double(xIdx)
              if (!num.ok) null
              else { val y = double(yIdx); if (num.ok) GeomCodec.point(x, y) else null }
            } else null)
          var k = 0
          while (k < cols.length) {
            val s = slots(k)
            if (s >= 0) {
              val i = cols(k)
              if (cells.empty(i)) sink.putNull(s)
              else if (!opts.autodetectTypes) sink.putUtf8(s, cells.buf(i), cells.start(i), cells.end(i) - cells.start(i))
              else detect(cells, i, num, sink, s)
            }
            k += 1
          }
          return true
        }
        false
      }
      override def close(): Unit = lines.close()
    }
  }

  /** Types from the cells' emptiness alone: every filled cell is a
    * string, so no WKT or lon/lat is decoded.
    * With `autodetectTypes` the cells are parsed and typed as [[detect]]
    * puts them. */
  override def openTypes(path: String, opts: GdalOptions): TypeIterator = {
    val (lines, layout, cells) = openLines(path, opts)
    if (layout == null) { lines.close(); return TypeIterator(Iterator.empty) }
    val cols = layout.cols
    val strings = layout.names.map((_, StringType))
    val nulls = layout.names.map((_, NullType))
    val num = new NumberParser
    val it = Iterator.continually(CsvGeoFormat.nonEmptyLine(lines)).takeWhile(identity).map { _ =>
      cells.parse(lines.buf, lines.start, lines.end)
      val out = new Array[(String, DataType)](cols.length)
      var k = 0
      while (k < cols.length) {
        val i = cols(k)
        out(k) =
          if (cells.empty(i)) nulls(k)
          else if (opts.autodetectTypes) (layout.names(k), detectedType(cells, i, num))
          else strings(k)
        k += 1
      }
      ArraySeq.unsafeWrapArray(out): SchemaInference.FeatureTypes
    }
    TypeIterator(it, () => lines.close())
  }

  /** GDAL's AUTODETECT_TYPE: a cell that parses as a long is a Long, else
    * one that parses as a double is a Double, else it stays text. */
  private def detect(cells: CsvGeoFormat.Cells, i: Int, num: NumberParser, sink: ValueSink, s: Int): Unit = {
    val b = cells.buf(i)
    val from = cells.start(i)
    val to = cells.end(i)
    if (!ByteLines.ascii(b, from, to)) sink.putAny(s, detect(cells.string(i)))
    else {
      val l = num.long(b, from, to)
      if (num.ok) sink.putLong(s, l)
      else {
        val d = num.double(b, from, to)
        if (num.ok) sink.putDouble(s, d) else sink.putUtf8(s, b, from, to - from)
      }
    }
  }

  private def detectedType(cells: CsvGeoFormat.Cells, i: Int, num: NumberParser): DataType = {
    val b = cells.buf(i)
    val from = cells.start(i)
    val to = cells.end(i)
    if (!ByteLines.ascii(b, from, to)) SchemaInference.typeOf(detect(cells.string(i)))
    else {
      num.long(b, from, to)
      if (num.ok) LongType
      else { num.double(b, from, to); if (num.ok) DoubleType else StringType }
    }
  }

  /** [[detect]] of non-ASCII text: the JDK's long parse takes any Unicode digit. */
  private def detect(s: String): Any =
    try java.lang.Long.valueOf(s.toLong)
    catch {
      case _: NumberFormatException =>
        try java.lang.Double.valueOf(s.toDouble)
        catch { case _: NumberFormatException => s }
    }

  /** The first column whose name matches one of `globs`; -1 for none. */
  private def findIdx(header: Array[String], globs: Seq[String]): Int = {
    val regexes = globs.map(g =>
      ("(?i)^" + java.util.regex.Pattern.quote(g).replace("*", "\\E.*\\Q") + "$").r)
    header.indexWhere(h => regexes.exists(_.findFirstIn(h).isDefined))
  }
}

object CsvGeoFormat {
  /** Splits off the next non-empty line; false at the end. */
  private def nonEmptyLine(lines: ByteLines): Boolean = {
    while (lines.next()) if (lines.end > lines.start) return true
    false
  }

  /** One line's cells, RFC-4180-ish: commas, double quotes, escaped
    * quotes. A cell with no quote is a span of the line; a cell with one
    * is unescaped into a scratch buffer. Cells past the line's last are
    * empty. */
  private final class Cells {
    var n = 0
    private var src: Array[Byte] = _
    private var starts = new Array[Int](16)
    private var ends = new Array[Int](16)
    private var quoted = new Array[Boolean](16)
    private var scratch = new Array[Byte](256)
    private var used = 0

    def buf(i: Int): Array[Byte] = if (quoted(i)) scratch else src
    def start(i: Int): Int = starts(i)
    def end(i: Int): Int = ends(i)
    def empty(i: Int): Boolean = i >= n || starts(i) == ends(i)
    def string(i: Int): String =
      if (i >= n) "" else new String(buf(i), starts(i), ends(i) - starts(i), StandardCharsets.UTF_8)

    private def add(from: Int, to: Int, q: Boolean): Unit = {
      if (n == starts.length) {
        starts = java.util.Arrays.copyOf(starts, n * 2)
        ends = java.util.Arrays.copyOf(ends, n * 2)
        quoted = java.util.Arrays.copyOf(quoted, n * 2)
      }
      starts(n) = from
      ends(n) = to
      quoted(n) = q
      n += 1
    }

    private def put(c: Byte): Unit = {
      if (used == scratch.length) scratch = java.util.Arrays.copyOf(scratch, used * 2)
      scratch(used) = c
      used += 1
    }

    /** Parses the line `b[from, to)`; throws `MalformedInputException`
      * if it is not UTF-8. */
    def parse(b: Array[Byte], from: Int, to: Int): Unit = {
      src = b
      n = 0
      used = 0
      var ascii = true
      var i = from
      while (true) {
        val start = i
        while (i < to && b(i) != ',' && b(i) != '"') { ascii &= b(i) >= 0; i += 1 }
        if (i == to || b(i) == ',') add(start, i, q = false)
        else {
          val s0 = used
          var k = start
          while (k < i) { put(b(k)); k += 1 }
          var inQuotes = false
          while (i < to && (inQuotes || b(i) != ',')) {
            val c = b(i)
            if (c == '"') {
              if (inQuotes && i + 1 < to && b(i + 1) == '"') { put('"'); i += 1 }
              else inQuotes = !inQuotes
            } else { ascii &= c >= 0; put(c) }
            i += 1
          }
          add(s0, used, q = true)
        }
        if (i == to) {
          if (!ascii && !ByteLines.validUtf8(b, from, to)) throw new MalformedInputException(to - from)
          return
        }
        i += 1 // the comma
      }
    }
  }
}

/** `spark.read.format("csvgeo")` / `df.write.format("csvgeo")` */
class CsvGeoSourceProvider extends WritableFeatureSourceProvider {
  override def shortName(): String = "csvgeo"
  override def format: FeatureFormat = new CsvGeoFormat
  override def sink: FeatureSink = CsvGeoSink
}
