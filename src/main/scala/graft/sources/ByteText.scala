package graft.sources

import java.nio.charset.StandardCharsets

/** The lines of a byte stream, split where `BufferedReader.readLine`
  * splits them (`\n`, `\r`, `\r\n`; a last line with no terminator counts,
  * an empty stream has none). [[next]] leaves the line in
  * `buf[start, end)`, valid until the next call; the line may be changed
  * in place. */
final class ByteLines(in: java.io.InputStream) extends AutoCloseable {
  var buf = new Array[Byte](1 << 16)
  var start = 0 // the line last split off
  var end = 0
  private var from = 0 // first byte not yet split off
  private var filled = 0 // end of the bytes read so far
  private var eof = false

  /** Splits the next line off; false at the end of the stream. */
  def next(): Boolean = {
    var i = from
    while (true) {
      while (i < filled && buf(i) != '\n' && buf(i) != '\r') i += 1
      if (i < filled && !(buf(i) == '\r' && i + 1 == filled && !eof)) {
        start = from
        end = i
        from = if (buf(i) == '\r' && i + 1 < filled && buf(i + 1) == '\n') i + 2 else i + 1
        return true
      }
      if (eof) {
        if (from == filled) return false
        start = from
        end = filled
        from = filled
        return true
      }
      i -= fill()
    }
    false
  }

  override def close(): Unit = in.close()

  /** Reads more bytes after `filled`, first moving the unsplit bytes to
    * the front (growing the buffer if they fill it); returns how far they
    * moved. */
  private def fill(): Int = {
    val moved = from
    if (moved > 0) {
      System.arraycopy(buf, from, buf, 0, filled - from)
      filled -= from
      from = 0
    } else if (filled == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    val n = in.read(buf, filled, buf.length - filled)
    if (n < 0) eof = true else filled += n
    moved
  }
}

object ByteLines {
  /** The length of the well-formed multi-byte UTF-8 sequence at `i` of
    * `buf` (before `to`); 0 for a malformed one. */
  def utf8Length(buf: Array[Byte], i: Int, to: Int): Int = {
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

  /** Whether `buf[from, to)` is well-formed UTF-8. */
  def validUtf8(buf: Array[Byte], from: Int, to: Int): Boolean = {
    var i = from
    while (i < to) {
      if (buf(i) >= 0) i += 1
      else { val n = utf8Length(buf, i, to); if (n == 0) return false; i += n }
    }
    true
  }

  /** Whether `buf[from, to)` is all ASCII. */
  def ascii(buf: Array[Byte], from: Int, to: Int): Boolean = {
    var i = from
    while (i < to) { if (buf(i) < 0) return false; i += 1 }
    true
  }
}

/** `java.lang.Long.parseLong`, `Integer.parseInt` and
  * `java.lang.Double.parseDouble` of ASCII text held as bytes, with no
  * `String` on the common path: [[ok]] tells whether the last parse
  * succeeded (where the JDK call would throw, it is false). Not
  * thread-safe; one per reader. */
final class NumberParser {
  import NumberParser._

  var ok = false

  def long(b: Array[Byte], from: Int, to: Int): Long = {
    ok = false
    if (from >= to) return 0L
    var i = from
    var neg = false
    var limit = -Long.MaxValue
    val first = b(i)
    if (first < '0') {
      if (first == '-') { neg = true; limit = Long.MinValue }
      else if (first != '+') return 0L
      i += 1
      if (i == to) return 0L
    }
    val multmin = limit / 10
    var r = 0L
    while (i < to) {
      val d = b(i) - '0'
      if (d < 0 || d > 9 || r < multmin) return 0L
      r *= 10
      if (r < limit + d) return 0L
      r -= d
      i += 1
    }
    ok = true
    if (neg) r else -r
  }

  def int(b: Array[Byte], from: Int, to: Int): Int = {
    val v = long(b, from, to)
    if (ok && (v < Int.MinValue || v > Int.MaxValue)) ok = false
    v.toInt
  }

  /** Decimal text whose digits fit 18 places and whose value is an exact
    * double times or over an exact power of ten is computed here (one
    * correctly rounded operation, so the JDK's result); anything else
    * (more digits, `NaN`, hex, suffixes, spaces) goes to the JDK. */
  def double(b: Array[Byte], from: Int, to: Int): Double = {
    ok = true
    var i = from
    var neg = false
    if (i < to && (b(i) == '-' || b(i) == '+')) { neg = b(i) == '-'; i += 1 }
    var m = 0L
    var digits = 0 // significant digits in m
    var zeros = 0 // zeros read since m's last digit
    var frac = 0 // digits after the point
    var any = false
    var dot = false
    var exp = 0
    while (i < to) {
      val c = b(i)
      if (c >= '0' && c <= '9') {
        any = true
        if (dot) frac += 1
        if (c == '0') { if (m != 0) zeros += 1 }
        else {
          digits += zeros + 1
          if (digits > 18) return slow(b, from, to)
          m = m * Pow10(zeros + 1) + (c - '0')
          zeros = 0
        }
        i += 1
      } else if (c == '.' && !dot) { dot = true; i += 1 }
      else if ((c == 'e' || c == 'E') && any) {
        val e = int(b, i + 1, to)
        if (!ok || to - i > 6) return slow(b, from, to)
        exp = e
        i = to
      } else return slow(b, from, to)
    }
    if (!any) return slow(b, from, to)
    if (m == 0) return if (neg) -0.0 else 0.0
    val scale = zeros - frac + exp
    if (m > (1L << 53) || scale < -22 || scale > 22) return slow(b, from, to)
    val v = if (scale >= 0) m.toDouble * Exact(scale) else m.toDouble / Exact(-scale)
    if (neg) -v else v
  }

  private def slow(b: Array[Byte], from: Int, to: Int): Double =
    try { ok = true; java.lang.Double.parseDouble(new String(b, from, to - from, StandardCharsets.ISO_8859_1)) }
    catch { case _: NumberFormatException => ok = false; 0.0 }
}

private object NumberParser {
  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)
  private val Exact: Array[Double] = Array.iterate(1.0, 23)(_ * 10)
}
