package graft.sources.shapefile

import java.io.{BufferedInputStream, DataInputStream, FileInputStream}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Paths}

/** Minimal dBASE III/IV (.dbf) attribute reader, written against the public
  * dBASE file-format description (also mirrored by GDAL's Shapefile driver
  * docs). Field typing follows GDAL's convention: N/F with 0 decimals →
  * Integer (width < 10) / Integer64, otherwise Real; C → String; L →
  * Boolean; D → Date (YYYYMMDD).
  */
object Dbf {
  final case class Field(name: String, typ: Char, length: Int, decimals: Int)

  final case class Table(fields: Vector[Field], records: Iterator[IndexedSeq[Any]])

  def read(path: String): Table = read(path, 0L, -1L)

  /** Ranged read: skip to `startRec`, stop after `maxRecords` (-1 = all) —
    * the attribute half of a record-range split. */
  def read(path: String, startRec: Long, maxRecords: Long): Table = {
    val r = new Reader(path, startRec, maxRecords)
    val fields = r.fields
    Table(fields, r.map { rec =>
      if (r.deleted(rec)) IndexedSeq.fill(fields.length)(null)
      else fields.indices.map(r.cell(rec, _))
    })
  }

  /** The raw records of a ranged read, one reused buffer per record, with
    * the header's fields and a per-cell parse. The file closes when the
    * records run out, or on [[close]]. */
  final class Reader(path: String, startRec: Long, maxRecords: Long)
      extends Iterator[Array[Byte]] with AutoCloseable {
    private val charset = cpgCharset(path)
    private val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path)))
    private val header = new Array[Byte](32)
    in.readFully(header)
    private val totalRecords = le32(header, 4)
    private val headerLen = le16(header, 8)
    private val recordLen = le16(header, 10)

    private val nFields = (headerLen - 33) / 32
    val fields: Vector[Field] = Vector.tabulate(nFields) { _ =>
      val fd = new Array[Byte](32)
      in.readFully(fd)
      val nameLen = fd.indexWhere(_ == 0) match { case -1 => 11; case i => math.min(i, 11) }
      Field(new String(fd, 0, nameLen, StandardCharsets.US_ASCII),
        (fd(11) & 0xff).toChar, fd(16) & 0xff, fd(17) & 0xff)
    }
    private val offsets = fields.scanLeft(1)(_ + _.length).toArray
    in.skipBytes(headerLen - 32 - nFields * 32) // terminator byte (+ any fill)
    private var toSkip = startRec * recordLen
    while (toSkip > 0) toSkip -= in.skip(toSkip)
    private val nRecords =
      if (maxRecords < 0) totalRecords - startRec
      else math.min(maxRecords, totalRecords - startRec)

    private val rec = new Array[Byte](recordLen)
    private var i = 0L
    override def hasNext: Boolean = {
      val more = i < nRecords
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

    /** Field `c` of a record that is not [[deleted]]; null when blank or
      * unparseable. */
    def cell(rec: Array[Byte], c: Int): Any =
      parse(new String(rec, offsets(c), fields(c).length, charset), fields(c))
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

  private def parse(raw: String, f: Field): Any = {
    val s = raw.trim
    if (s.isEmpty) null
    else f.typ match {
      case 'C' => rtrim(raw)
      case 'N' if f.decimals == 0 =>
        try { if (f.length < 10) Integer.valueOf(s.toInt) else java.lang.Long.valueOf(s.toLong) }
        catch { case _: NumberFormatException => null }
      case 'N' | 'F' =>
        try java.lang.Double.valueOf(s.toDouble)
        catch { case _: NumberFormatException => null }
      case 'L' => s.head match {
        case 'T' | 't' | 'Y' | 'y' => java.lang.Boolean.TRUE
        case 'F' | 'f' | 'N' | 'n' => java.lang.Boolean.FALSE
        case _ => null
      }
      case 'D' => date(s)
      case _ => s
    }
  }

  /** Drops trailing `[ \t\n\x0B\f\r]` — what `\s` matches in a Java regex. */
  private def rtrim(s: String): String = {
    var end = s.length
    while (end > 0 && (s.charAt(end - 1) match {
      case ' ' | '\t' | '\n' | '\u000b' | '\f' | '\r' => true
      case _ => false
    })) end -= 1
    s.substring(0, end)
  }

  /** YYYYMMDD → the date `java.sql.Date.valueOf("YYYY-MM-DD")` gives, or
    * null where it would throw: a dash among the eight characters, a
    * non-number, a month outside 1-12 or a day outside 1-31. Like it, a day
    * past the month's end rolls over into the next month. */
  @annotation.nowarn("cat=deprecation")
  private def date(s: String): java.sql.Date = {
    val dash = s.indexOf('-')
    if (s.length < 8 || (dash >= 0 && dash < 8)) null
    else try {
      val y = Integer.parseInt(s, 0, 4, 10)
      val m = Integer.parseInt(s, 4, 6, 10)
      val d = Integer.parseInt(s, 6, 8, 10)
      if (m < 1 || m > 12 || d < 1 || d > 31) null else new java.sql.Date(y - 1900, m - 1, d)
    } catch { case _: NumberFormatException => null }
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
