package graft.sources.geojson

import java.io.FileInputStream
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.{JsonParser, JsonToken}

import graft.sources._

/** Newline-delimited GeoJSON (GDAL's GeoJSONSeq driver; also accepts
  * RFC 8142 RS-prefixed sequences). One Feature object per line — the
  * splittable GeoJSON variant: unlike a FeatureCollection document, a
  * directory of .geojsonl part files (what our writer emits) parallelizes
  * perfectly, and single large files could be byte-range split on newlines
  * (same model as Spark's text sources). */
class GeoJsonSeqFormat extends ColumnarFormat {
  override def extensions: Seq[String] = Seq(".geojsonl", ".ndjson", ".geojsons")

  override def cursor(spec: SplitSpec, opts: GdalOptions, sink: ValueSink): FeatureCursor = {
    val features = new GeoJsonFeatures(sink)
    var idx = -1L
    val lines = new GeoJsonSeqFormat.Lines(new FileInputStream(spec.path))
    new FeatureCursor {
      override def next(): Boolean = lines.hasNext && {
        val p = lines.next()
        if (p.currentToken != JsonToken.START_OBJECT)
          throw new IllegalArgumentException(s"${spec.path}: not a GeoJSON Feature object: ${lines.text}")
        idx += 1
        val t = features.read(p)
        sink.fid(t.fid(idx))
        sink.geometry(t.wkb)
        true
      }
      override def close(): Unit = lines.close()
    }
  }

  /** Types from a token walk of each line (see [[GeoJsonTypes]]): no
    * trees, no geometry decode. */
  override def openTypes(path: String, opts: GdalOptions): TypeIterator = {
    val types = new GeoJsonTypes
    val lines = new GeoJsonSeqFormat.Lines(new FileInputStream(path))
    val it = lines.map { p =>
      if (p.currentToken != JsonToken.START_OBJECT)
        throw new IllegalArgumentException(s"$path: not a GeoJSON Feature object: ${lines.text}")
      types.feature(p)
    }
    TypeIterator(it, () => lines.close())
  }
}

object GeoJsonSeqFormat {
  /** The non-blank lines of a GeoJSONSeq stream, each as a parser that
    * stands on the line's first token (read by `next`, so a malformed line
    * fails there, as a per-line parse in `map` would); a line's parser is
    * closed when the next line is asked for, or on [[close]]. Lines split
    * where `BufferedReader.readLine` splits them ([[ByteLines]]); every
    * RFC 8142 record separator (RS, 0x1E) is dropped and the line is
    * trimmed like `String.trim`; a line left empty is skipped; whatever
    * follows the line's first JSON value is ignored.
    *
    * A line that starts with `{` and is plain UTF-8 (no NUL, no malformed
    * sequence) is parsed in place. Any other line is decoded to a string
    * first, with malformed bytes replaced, so it parses to what a
    * character reader would give. */
  private[geojson] final class Lines(in: java.io.InputStream)
      extends Iterator[JsonParser] with AutoCloseable {
    private val factory = GeoJsonFeatures.mapper.getFactory
    private val lines = new ByteLines(in)
    private var parser: JsonParser = null
    private var ready = false
    // the current line: its string, or null and its span in `lines.buf`
    private var lineString: String = null
    private var textFrom = 0
    private var textLen = 0

    /** The current line's text, after the RS strip and the trim. */
    def text: String =
      if (lineString != null) lineString
      else new String(lines.buf, textFrom, textLen, StandardCharsets.UTF_8)

    override def hasNext: Boolean = {
      if (!ready) {
        if (parser != null) { parser.close(); parser = null }
        ready = true
        while (parser == null && lines.next()) parseLine(lines.buf, lines.start, lines.end)
      }
      parser != null
    }

    override def next(): JsonParser = {
      if (!hasNext) throw new NoSuchElementException("no more lines")
      ready = false
      parser.nextToken()
      parser
    }

    override def close(): Unit = try if (parser != null) parser.close() finally lines.close()

    /** Sets `parser` to a parser of the line `buf[from, to)`, or leaves it
      * null for a blank line. */
    private def parseLine(buf: Array[Byte], from: Int, to: Int): Unit = {
      var a = from
      var b = to
      while (a < b && (buf(a) & 0xFF) <= 0x20) a += 1
      while (b > a && (buf(b - 1) & 0xFF) <= 0x20) b -= 1
      if (a == b) return
      // one pass: is [a, b) plain UTF-8 with no NUL, and does it hold RS?
      // (the trimmed ends are ASCII, so they decode alike either way)
      var plain = buf(a) == '{'
      var rs = false
      var i = a
      while (plain && i < b) {
        val c = buf(i)
        if (c > 0x1E) i += 1
        else if (c > 0) { rs |= c == 0x1E; i += 1 }
        else if (c == 0) plain = false
        else { val n = ByteLines.utf8Length(buf, i, b); if (n == 0) plain = false else i += n }
      }
      if (plain) {
        if (rs) { // drop the RS bytes inside the line, in place
          var w = a
          var r = a
          while (r < b) { if (buf(r) != 0x1E) { buf(w) = buf(r); w += 1 }; r += 1 }
          b = w
        }
        lineString = null
        textFrom = a
        textLen = b - a
        parser = factory.createParser(buf, a, b - a)
      } else {
        val line = new String(buf, from, to - from, StandardCharsets.UTF_8)
          .replace("\u001e", "").trim
        if (line.isEmpty) return
        lineString = line
        parser = factory.createParser(line)
      }
    }
  }
}

/** `spark.read/write.format("geojsonseq")` — write emits one Feature per
  * line (reusing the FeatureCollection serializer's feature writer). */
class GeoJsonSeqSourceProvider extends WritableFeatureSourceProvider {
  override def shortName(): String = "geojsonseq"
  override def format: FeatureFormat = new GeoJsonSeqFormat
  override def sink: FeatureSink = GeoJsonSeqSink
}

object GeoJsonSeqSink extends FeatureSink {
  override def extensions: Seq[String] = Seq(".geojsonl")
  override def writer(part: Part, schema: org.apache.spark.sql.types.StructType,
      geometry: GeometryColumn, opts: GdalOptions): PartWriter =
    new TextPart(part.files(0), "", "") {
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        GeoJsonRowSerializer.writeFeature(row, schema, geometry, out)
        out.write("\n")
        n += 1
      }
    }
}
