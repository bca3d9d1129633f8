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
class GeoJsonSeqFormat extends FeatureFormat {
  override def extensions: Seq[String] = Seq(".geojsonl", ".ndjson", ".geojsons")

  override def open(path: String, opts: GdalOptions): FeatureIterator = {
    val features = new GeoJsonFeatures
    var idx = -1L
    val lines = new GeoJsonSeqFormat.Lines(new FileInputStream(path))
    val it = lines.map { p =>
      if (p.currentToken != JsonToken.START_OBJECT)
        throw new IllegalArgumentException(s"$path: not a GeoJSON Feature object: ${lines.text}")
      idx += 1
      features.read(p).feature(idx)
    }
    FeatureIterator(it, () => lines.close())
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
    * where `BufferedReader.readLine` splits them (`\n`, `\r`, `\r\n`);
    * every RFC 8142 record separator (RS, 0x1E) is dropped and the line is
    * trimmed like `String.trim`; a line left empty is skipped; whatever
    * follows the line's first JSON value is ignored.
    *
    * Lines are split as bytes, and a line that starts with `{` and is
    * plain UTF-8 (no NUL, no malformed sequence) is parsed in place. Any
    * other line is decoded to a string first, with malformed bytes
    * replaced, so it parses to what a character reader would give. */
  private[geojson] final class Lines(in: java.io.InputStream)
      extends Iterator[JsonParser] with AutoCloseable {
    private val factory = GeoJsonFeatures.mapper.getFactory
    private var buf = new Array[Byte](1 << 16)
    private var start = 0 // first byte not yet split off
    private var end = 0 // end of the bytes read so far
    private var eof = false
    private var lineStart = 0 // the line last split off
    private var lineEnd = 0
    private var parser: JsonParser = null
    private var ready = false
    // the current line: its string, or null and its span in `buf`
    private var lineString: String = null
    private var textFrom = 0
    private var textLen = 0

    /** The current line's text, after the RS strip and the trim. */
    def text: String =
      if (lineString != null) lineString
      else new String(buf, textFrom, textLen, StandardCharsets.UTF_8)

    override def hasNext: Boolean = {
      if (!ready) {
        if (parser != null) { parser.close(); parser = null }
        ready = true
        while (parser == null && splitLine()) parseLine(lineStart, lineEnd)
      }
      parser != null
    }

    override def next(): JsonParser = {
      if (!hasNext) throw new NoSuchElementException("no more lines")
      ready = false
      parser.nextToken()
      parser
    }

    override def close(): Unit = try if (parser != null) parser.close() finally in.close()

    /** Splits the next line off into `[lineStart, lineEnd)`; false at the end. */
    private def splitLine(): Boolean = {
      var i = start
      while (true) {
        while (i < end && buf(i) != '\n' && buf(i) != '\r') i += 1
        if (i < end && !(buf(i) == '\r' && i + 1 == end && !eof)) {
          lineStart = start
          lineEnd = i
          start = if (buf(i) == '\r' && i + 1 < end && buf(i + 1) == '\n') i + 2 else i + 1
          return true
        }
        if (eof) {
          if (start == end) return false
          lineStart = start
          lineEnd = end
          start = end
          return true
        }
        i -= fill()
      }
      false
    }

    /** Reads more bytes after `end`, first moving the unsplit bytes to the
      * front (growing the buffer if they fill it); returns how far they
      * moved. */
    private def fill(): Int = {
      val moved = start
      if (moved > 0) {
        System.arraycopy(buf, start, buf, 0, end - start)
        end -= start
        start = 0
      } else if (end == buf.length) buf = Array.copyOf(buf, buf.length * 2)
      val n = in.read(buf, end, buf.length - end)
      if (n < 0) eof = true else end += n
      moved
    }

    /** Sets `parser` to a parser of the line `[from, to)`, or leaves it
      * null for a blank line. */
    private def parseLine(from: Int, to: Int): Unit = {
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
        else { val n = utf8Length(i, b); if (n == 0) plain = false else i += n }
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

    /** The length of the well-formed multi-byte UTF-8 sequence at `i`
      * (before `to`); 0 for a malformed one. */
    private def utf8Length(i: Int, to: Int): Int = {
      def cont(j: Int, lo: Int, hi: Int): Boolean =
        j < to && (buf(j) & 0xFF) >= lo && (buf(j) & 0xFF) <= hi
      val c = buf(i) & 0xFF
      if (c >= 0xC2 && c <= 0xDF) { if (cont(i + 1, 0x80, 0xBF)) 2 else 0 }
      else if (c >= 0xE0 && c <= 0xEF) {
        val lo = if (c == 0xE0) 0xA0 else 0x80
        val hi = if (c == 0xED) 0x9F else 0xBF
        if (cont(i + 1, lo, hi) && cont(i + 2, 0x80, 0xBF)) 3 else 0
      } else if (c >= 0xF0 && c <= 0xF4) {
        val lo = if (c == 0xF0) 0x90 else 0x80
        val hi = if (c == 0xF4) 0x8F else 0xBF
        if (cont(i + 1, lo, hi) && cont(i + 2, 0x80, 0xBF) && cont(i + 3, 0x80, 0xBF)) 4 else 0
      } else 0
    }
  }
}

/** `spark.read/write.format("geojsonseq")` — write emits one Feature per
  * line (reusing the FeatureCollection serializer's feature writer). */
class GeoJsonSeqSourceProvider extends WritableFeatureSourceProvider {
  override def shortName(): String = "geojsonseq"
  override def format: FeatureFormat = new GeoJsonSeqFormat
  protected override def newTable(schema: org.apache.spark.sql.types.StructType,
      files: Seq[String], opts: GdalOptions): org.apache.spark.sql.connector.catalog.Table =
    new GeoJsonSeqTable(schema, files, opts, format)
}

class GeoJsonSeqTable(schema: org.apache.spark.sql.types.StructType, files: Seq[String],
    opts: GdalOptions, format: FeatureFormat)
  extends FeatureTable("geojsonseq", schema, files, opts, format)
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.catalog.TableCapability
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.WriteBuilder =
    new GeoJsonSeqWriteBuilder(info)
}

class GeoJsonSeqWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  extends org.apache.spark.sql.connector.write.WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsTruncate {
  import org.apache.spark.sql.connector.write._
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val path = Option(info.options.get("path"))
        .getOrElse(throw new IllegalArgumentException("geojsonseq write requires a path"))
      new GeoJsonSeqBatchWrite(path, info.schema(), GdalOptions(info.options), doTruncate)
    }
  }
}

class GeoJsonSeqBatchWrite(path: String, schema: org.apache.spark.sql.types.StructType,
    opts: GdalOptions, truncate: Boolean)
  extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new java.io.File(path)
    if (!dir.exists()) dir.mkdirs()
    if (truncate) dir.listFiles().filter(_.getName.endsWith(".geojsonl")).foreach(_.delete())
    if (truncate) graft.sources.AttemptFile.cleanDebris(dir)
    GeoJsonRowSerializer.geometryIndex(schema, opts)
    new GeoJsonSeqWriterFactory(path, schema, opts)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    graft.sources.AttemptFile.verifyCommitted(messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class GeoJsonSeqWriterFactory(path: String, schema: org.apache.spark.sql.types.StructType,
    opts: GdalOptions) extends org.apache.spark.sql.connector.write.DataWriterFactory {
  import org.apache.spark.sql.connector.write._
  override def createWriter(partitionId: Int, taskId: Long)
    : DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new GeoJsonSeqDataWriter(
      new java.io.File(path, f"part-$partitionId%05d.geojsonl"), schema, opts, taskId)
}

class GeoJsonSeqDataWriter(file: java.io.File,
    schema: org.apache.spark.sql.types.StructType, opts: GdalOptions,
    taskId: Long)
  extends org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.sql.connector.write._
  private val geomIdx = GeoJsonRowSerializer.geometryIndex(schema, opts)
  private val tmp = graft.sources.AttemptFile.temp(file, taskId)
  private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
    new java.io.FileOutputStream(tmp), StandardCharsets.UTF_8))

  override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    GeoJsonRowSerializer.writeFeature(row, schema, geomIdx, opts, out)
    out.write("\n")
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    graft.sources.AttemptFile.promote(tmp, file)
    GeoJsonCommit(0, Seq(file.getAbsolutePath))
  }
  override def abort(): Unit = { out.close(); tmp.delete(); () }
  override def close(): Unit = ()
}
