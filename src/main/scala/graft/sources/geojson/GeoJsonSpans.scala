package graft.sources.geojson

import java.io.{EOFException, FileInputStream, IOException}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import graft.sources.SplitSpec

/** The byte span of each feature of a GeoJSON FeatureCollection (or bare
  * array of features), found by a byte-level scan that tracks only
  * nesting and string/escape state: numbers and names are not tokenized,
  * except the root object's member names while it looks for `features`.
  * It finds what a Jackson token walk of the file finds — the array is
  * the root object's first `features` member whose value is an array, or
  * the root itself if that is an array; its features are its elements up
  * to the first that is not an object; a feature's span runs from its `{`
  * to just past its `}` — and, like that walk, it fails on a file that
  * ends inside the array. It assumes well-formed JSON otherwise; the
  * executors' parse of each span checks the syntax. */
private[graft] object GeoJsonSpans {

  /** The features grouped into splits of about `targetBytes` or at most
    * `splitRecords` features each; one whole-file split if there are none. */
  def splits(path: String, targetBytes: Long, splitRecords: Long): Seq[SplitSpec] = {
    val out = ArrayBuffer.empty[SplitSpec]
    var chunkStart = -1L
    var chunkFirstIdx = 0L
    var chunkCount = 0L
    var idx = 0L
    var lastEnd = -1L
    val scan = new Scan(path)
    try scan.spans { (start, end) =>
      lastEnd = end
      if (chunkStart < 0) { chunkStart = start; chunkFirstIdx = idx; chunkCount = 0L }
      chunkCount += 1
      if (lastEnd - chunkStart >= targetBytes || chunkCount >= splitRecords) {
        out += SplitSpec(path, chunkFirstIdx, chunkCount, chunkStart, lastEnd)
        chunkStart = -1L
      }
      idx += 1
    } finally scan.close()
    if (chunkStart >= 0) out += SplitSpec(path, chunkFirstIdx, chunkCount, chunkStart, lastEnd)
    if (out.isEmpty) Seq(SplitSpec(path, 0L, -1L)) else out.toSeq
  }

  private final class Scan(path: String) extends AutoCloseable {
    private val in = new FileInputStream(path)
    private val buf = new Array[Byte](1 << 16)
    private var pos = 0
    private var lim = 0
    private var base = 0L // file offset of buf(0)
    // the containers open around the scan position: true for an object
    private var stack = new Array[Boolean](16)
    private var depth = 0

    override def close(): Unit = in.close()

    private def offset: Long = base + pos

    /** The next byte, or -1 at the end of the file. */
    private def read(): Int = {
      if (pos == lim) {
        base += lim
        pos = 0
        lim = math.max(0, in.read(buf))
        if (lim == 0) return -1
      }
      val c = buf(pos)
      pos += 1
      c & 0xFF
    }

    private def eof(): Nothing =
      throw new EOFException(s"$path: unexpected end of input inside a JSON value at byte $offset")
    private def malformed(what: String): Nothing =
      throw new IOException(s"$path: malformed JSON at byte $offset: $what")

    /** The next byte that is not JSON whitespace, or -1. */
    private def skipSpace(): Int = {
      var c = read()
      while (c == ' ' || c == '\n' || c == '\r' || c == '\t') c = read()
      c
    }

    /** Past the rest of a string whose opening quote was read. */
    private def skipString(): Unit = {
      var p = pos
      while (true) {
        if (p == lim) {
          pos = p
          if (read() < 0) eof()
          p = pos - 1
        }
        val c = buf(p)
        p += 1
        if (c == '"') { pos = p; return }
        if (c == '\\') {
          pos = p
          if (read() < 0) eof()
          p = pos
        }
      }
    }

    /** The rest of a string whose opening quote was read, if it spells
      * `features` (escapes decoded); reads past it either way. */
    private def isFeatures(): Boolean = {
      val bytes = new java.io.ByteArrayOutputStream()
      var escaped = false
      var c = read()
      while (c != '"') {
        if (c < 0) eof()
        if (c == '\\') { escaped = true; bytes.write(c); bytes.write(read()) } else bytes.write(c)
        c = read()
      }
      val raw = bytes.toByteArray
      if (!escaped) java.util.Arrays.equals(raw, Features)
      else {
        val text = GeoJsonFeatures.mapper.readValue("\"" + new String(raw, StandardCharsets.UTF_8) + "\"",
          classOf[String])
        text == "features"
      }
    }

    private def push(obj: Boolean): Unit = {
      if (depth == stack.length) stack = java.util.Arrays.copyOf(stack, depth * 2)
      stack(depth) = obj
      depth += 1
    }

    /** Past a scalar other than a string, whose first byte was read. */
    private def skipScalar(): Unit = {
      var c = read()
      while (c >= 0 && c != ',' && c != ':' && c != '}' && c != ']' && c != ' ' &&
          c != '\n' && c != '\r' && c != '\t' && c != '"' && c != '{' && c != '[') c = read()
      if (c >= 0) pos -= 1
    }

    /** Calls `span(start, end)` for each feature of the array, if found. */
    def spans(span: (Long, Long) => Unit): Unit = {
      var c = skipSpace()
      if (c == 0xEF) { // a UTF-8 byte-order mark
        if (read() != 0xBB || read() != 0xBF) malformed("byte-order mark")
        c = skipSpace()
      }
      if (c == '[') { features(span); return }
      if (c != '{') return
      // the token walk: the root object's members, nesting counted as
      // containers open and close; a `features` name at the root whose
      // value is an array is the one
      var level = 0 // what the walk counts: containers opened after the root
      var key = true // a string in an object here is a member name
      push(obj = true)
      while (true) {
        c = skipSpace()
        if (c < 0) { if (depth > 0) eof(); return }
        c match {
          case '{' => push(obj = true); level += 1; key = true
          case '[' => push(obj = false); level += 1; key = false
          case '}' | ']' =>
            if (depth == 0) malformed("unbalanced close")
            depth -= 1
            level -= 1
            key = false
          case ',' => key = depth > 0 && stack(depth - 1)
          case ':' => key = false
          case '"' =>
            if (key && level == 0 && depth > 0 && stack(depth - 1)) {
              key = false
              if (isFeatures()) {
                if (skipSpace() != ':') malformed("expected ':'")
                skipSpace() match {
                  case '[' => features(span); return
                  // the walk reads the value without counting it open
                  case '{' => push(obj = true); key = true
                  case '"' => skipString()
                  case -1 => eof()
                  case _ => skipScalar()
                }
              }
            } else { skipString(); key = false }
          case _ => skipScalar(); key = false
        }
      }
    }

    /** The elements of the array whose `[` was read, up to the first that
      * is not an object. */
    private def features(span: (Long, Long) => Unit): Unit = {
      var c = skipSpace()
      while (c == '{') {
        val start = offset - 1
        var open = 1
        while (open > 0) {
          var p = pos
          while (p < lim && open > 0) {
            val b = buf(p)
            p += 1
            if (b == '"') { pos = p; skipString(); p = pos }
            else if (b == '{') open += 1
            else if (b == '}') open -= 1
          }
          pos = p
          if (open > 0) { if (read() < 0) eof(); pos -= 1 }
        }
        span(start, offset)
        c = skipSpace()
        if (c == ',') c = skipSpace()
        else if (c == ']') return
        else if (c < 0) eof()
        else malformed("expected ',' or ']'")
      }
      if (c < 0) eof()
    }
  }

  private val Features = "features".getBytes(StandardCharsets.US_ASCII)
}
