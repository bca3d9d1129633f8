package graft.sources.shapefile

import java.io.{BufferedInputStream, DataInputStream, FileInputStream}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Paths}

import graft.sources.{ByteLines, FeatureBuilder, NumberParser, ValueSink}

/** Minimal dBASE III/IV (.dbf) attribute reader, written against the public
  * dBASE file-format description (also mirrored by GDAL's Shapefile driver
  * docs). Field typing follows GDAL's convention: N/F with 0 decimals →
  * Integer (width < 10) / Integer64, otherwise Real; C → String; L →
  * Boolean; D → Date (YYYYMMDD). Cells are decoded from the record bytes
  * straight into a [[graft.sources.ValueSink]]: no `String` for a number,
  * a date or, in UTF-8 or ASCII text, a C cell.
  */
object Dbf {
  final case class Field(name: String, typ: Char, length: Int, decimals: Int)

  final case class Table(fields: Vector[Field], records: Iterator[IndexedSeq[Any]])

  def read(path: String): Table = read(path, 0L, -1L)

  /** Ranged read: skip to `startRec`, stop after `maxRecords` (-1 = all) —
    * the attribute half of a record-range split. Cells are boxed as
    * [[graft.sources.FeatureBuilder]] boxes them. */
  def read(path: String, startRec: Long, maxRecords: Long): Table = {
    val r = new Reader(path, startRec, maxRecords)
    val builder = new FeatureBuilder
    val slots = builder.bind(r.fields.map(_.name))
    Table(r.fields, r.map { rec => r.put(rec, builder, slots); builder.props().map(_._2) })
  }

  /** The raw records of a ranged read, one reused buffer per record, with
    * the header's fields and the cell decode. The file closes when the
    * records run out, or on [[close]].
    *
    * A header under 33 bytes, a record length other than 1 + the sum of
    * the field lengths, and a file shorter than the header and records
    * its header gives throw [[graft.sources.GraftError.MalformedInput]]
    * on open: a truncated table fails, it never reads short. */
  final class Reader(path: String, startRec: Long, maxRecords: Long)
      extends Iterator[Array[Byte]] with AutoCloseable {
    private val charset = cpgCharset(path)
    // ASCII text reads as itself: cells are parsed from the record bytes
    private val asciiSafe = {
      val probe = Array.tabulate[Byte](128)(_.toByte)
      java.util.Arrays.equals(new String(probe, charset).getBytes(StandardCharsets.ISO_8859_1), probe)
    }
    private val utf8 = charset == StandardCharsets.UTF_8
    private val fileSize = new java.io.File(path).length
    private val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path)))
    private def malformed(at: Long, detail: String): Nothing = {
      in.close()
      throw new graft.sources.GraftError.MalformedInput("shapefile", path, at, detail)
    }
    private val header = new Array[Byte](32)
    if (fileSize < 32) malformed(fileSize, s"the file ends at byte $fileSize, inside its 32-byte header")
    in.readFully(header)
    private val totalRecords = Integer.toUnsignedLong(le32(header, 4))
    private val headerLen = le16(header, 8)
    private val recordLen = le16(header, 10)
    if (headerLen < 33) malformed(8, s"the header length is $headerLen bytes, under 33")
    if (fileSize < headerLen + totalRecords * recordLen)
      malformed(fileSize, s"the file ends at byte $fileSize; its header gives $headerLen header bytes " +
        s"and $totalRecords records of $recordLen bytes")

    private val nFields = (headerLen - 33) / 32
    val fields: Vector[Field] = Vector.tabulate(nFields) { _ =>
      val fd = new Array[Byte](32)
      in.readFully(fd)
      val nameLen = fd.indexWhere(_ == 0) match { case -1 => 11; case i => math.min(i, 11) }
      Field(new String(fd, 0, nameLen, StandardCharsets.US_ASCII),
        (fd(11) & 0xff).toChar, fd(16) & 0xff, fd(17) & 0xff)
    }
    private val types = fields.map(_.typ).toArray
    private val lengths = fields.map(_.length).toArray
    if (recordLen != 1 + lengths.sum)
      malformed(10, s"the record length is $recordLen bytes; its fields give ${1 + lengths.sum}")
    private val integral = fields.map(f => f.typ == 'N' && f.decimals == 0).toArray
    private val offsets = fields.scanLeft(1)(_ + _.length).toArray
    in.skipBytes(headerLen - 32 - nFields * 32) // terminator byte (+ any fill)
    private var toSkip = startRec * recordLen
    while (toSkip > 0) toSkip -= in.skip(toSkip)
    /** The records this read returns. */
    val records: Long =
      if (maxRecords < 0) totalRecords - startRec
      else math.min(maxRecords, totalRecords - startRec)

    private val rec = new Array[Byte](recordLen)
    private val num = new NumberParser
    private var i = 0L
    override def hasNext: Boolean = {
      val more = i < records
      if (!more) in.close()
      more
    }
    override def next(): Array[Byte] = {
      in.readFully(rec)
      i += 1
      rec
    }
    override def close(): Unit = in.close()

    def deleted(rec: Array[Byte]): Boolean = rec(0) == '*'

    /** Puts the cells of `rec` into `sink`, field `c` into `slots(c)`
      * (skipped where -1); a deleted record's cells are null. */
    def put(rec: Array[Byte], sink: ValueSink, slots: Array[Int]): Unit = {
      var c = 0
      while (c < slots.length) {
        if (slots(c) >= 0) putCell(rec, c, sink, slots(c))
        c += 1
      }
    }

    /** Puts field `c` of `rec` into slot `s` of `sink`. */
    def putCell(rec: Array[Byte], c: Int, sink: ValueSink, s: Int): Unit =
      if (deleted(rec)) sink.putNull(s)
      else if (asciiSafe) cell(rec, offsets(c), offsets(c) + lengths(c), utf8, c, sink, s)
      else {
        val b = new String(rec, offsets(c), lengths(c), charset).getBytes(StandardCharsets.UTF_8)
        cell(b, 0, b.length, true, c, sink, s)
      }

    /** Field `c` held in `b[from, to)`, text whose ASCII bytes are ASCII
      * (UTF-8 where `utf8Text`, else the file's charset): null when blank
      * (no character above a space) or unparseable. C text loses its
      * trailing whitespace; N and F are numbers, L a boolean, D a date;
      * any other type is its text, trimmed. */
    private def cell(b: Array[Byte], from: Int, to: Int, utf8Text: Boolean,
        c: Int, sink: ValueSink, s: Int): Unit = {
      var a = from
      var z = to
      while (a < z && (b(a) & 0xff) <= 0x20) a += 1
      while (z > a && (b(z - 1) & 0xff) <= 0x20) z -= 1
      if (a == z) sink.putNull(s)
      else if (types(c) == 'C') {
        var e = to
        while (e > from && (b(e - 1) match {
          case ' ' | '\t' | '\n' | 0x0b | '\f' | '\r' => true
          case _ => false
        })) e -= 1
        if (utf8Text || ByteLines.ascii(b, from, e)) sink.putUtf8(s, b, from, e - from)
        else sink.putString(s, new String(b, from, e - from, charset))
      } else if (!ByteLines.ascii(b, a, z)) {
        val text = new String(b, a, z - a, if (utf8Text) StandardCharsets.UTF_8 else charset)
        types(c) match {
          case 'N' | 'F' | 'L' | 'D' =>
            // the JDK's integer parse takes any Unicode digit; nothing
            // else outside ASCII parses
            val t = text.map { ch =>
              val d = if (integral(c) || types(c) == 'D') Character.digit(ch, 10) else -1
              if (ch < 0x80) ch else if (d >= 0) ('0' + d).toChar else '\u007f'
            }.getBytes(StandardCharsets.ISO_8859_1)
            cell(t, 0, t.length, true, c, sink, s)
          case _ => sink.putString(s, text)
        }
      } else types(c) match {
        case 'N' if integral(c) =>
          if (lengths(c) < 10) { val v = num.int(b, a, z); if (num.ok) sink.putInt(s, v) else sink.putNull(s) }
          else { val v = num.long(b, a, z); if (num.ok) sink.putLong(s, v) else sink.putNull(s) }
        case 'N' | 'F' =>
          val v = num.double(b, a, z)
          if (num.ok) sink.putDouble(s, v) else sink.putNull(s)
        case 'L' => b(a) match {
          case 'T' | 't' | 'Y' | 'y' => sink.putBoolean(s, true)
          case 'F' | 'f' | 'N' | 'n' => sink.putBoolean(s, false)
          case _ => sink.putNull(s)
        }
        case 'D' =>
          val d = date(b, a, z)
          if (d == NoDate) sink.putNull(s) else sink.putDate(s, d)
        case _ => sink.putUtf8(s, b, a, z - a)
      }
    }

    /** YYYYMMDD (trimmed, in `b[a, z)`) → [[epochDay]], or [[NoDate]] where
      * `java.sql.Date.valueOf("YYYY-MM-DD")` would throw: fewer than eight
      * characters, a dash among them, a non-number, a month outside 1-12
      * or a day outside 1-31. Characters past the eighth are ignored. */
    private def date(b: Array[Byte], a: Int, z: Int): Int = {
      if (z - a < 8) return NoDate
      var k = a
      while (k < a + 8) { if (b(k) == '-') return NoDate; k += 1 }
      val y = num.int(b, a, a + 4)
      if (!num.ok) return NoDate
      val m = num.int(b, a + 4, a + 6)
      if (!num.ok) return NoDate
      val d = num.int(b, a + 6, a + 8)
      if (!num.ok || m < 1 || m > 12 || d < 1 || d > 31) NoDate else epochDay(y, m, d)
    }
  }

  private final val NoDate = Int.MinValue

  /** The day, counted from 1970-01-01 in the proleptic Gregorian calendar,
    * that `new java.sql.Date(y - 1900, m - 1, d)` read through Spark's
    * `DateTimeUtils.fromJavaDate` gives, for a month of 1-12 and a day of
    * 1-31 — with no calendar object. That date is of the hybrid Julian and
    * Gregorian calendar, a day past the month's end rolling into the next
    * month, and Spark keeps its year, month and day fields, so a date
    * maps to the same fields in the proleptic calendar with two
    * exceptions: a Julian-only February 29 (a year before 1582 that is a
    * multiple of 100 but not of 400) makes the 30th and 31st roll over a
    * day sooner, and 1582-10-05 to 14, which the switch to the Gregorian
    * calendar skipped, read as the Julian dates they name (10 days later). */
  def epochDay(y: Int, m: Int, d: Int): Int = {
    val first = java.time.LocalDate.of(y, m, 1).toEpochDay.toInt
    if (y < 1582 && m == 2 && d >= 30 && y % 100 == 0 && y % 400 != 0) first + d - 2
    else if (y == 1582 && m == 10 && d >= 5 && d <= 14) first + d + 9
    else first + d - 1
  }

  def sparkType(f: Field): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    f.typ match {
      case 'C' => StringType
      case 'N' | 'F' =>
        if (f.decimals == 0 && f.typ == 'N') { if (f.length < 10) IntegerType else LongType }
        else DoubleType
      case 'L' => BooleanType
      case 'D' => DateType
      case _ => StringType
    }
  }

  private def cpgCharset(dbfPath: String): Charset = {
    val cpg = Paths.get(dbfPath.replaceAll("\\.dbf$", ".cpg"))
    if (Files.exists(cpg)) {
      val name = new String(Files.readAllBytes(cpg), StandardCharsets.US_ASCII).trim
      try Charset.forName(name.replace("UTF 8", "UTF-8"))
      catch { case _: Exception => StandardCharsets.ISO_8859_1 }
    } else StandardCharsets.ISO_8859_1
  }

  private def le16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
}
