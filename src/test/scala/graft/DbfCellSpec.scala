package graft

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.shapefile.Dbf

/** DBF cells decoded straight from the record bytes must read as the
  * earlier `String` decode read them: dates as the day a `java.sql.Date`
  * of their fields gives through Spark's `fromJavaDate` (before 1583
  * too), numbers as the JDK parses their trimmed text. */
class DbfCellSpec extends AnyFunSuite {

  private val dir = TempDirs.untilExit("graft_dbf_cells_")

  @annotation.nowarn("cat=deprecation")
  private def javaDate(y: Int, m: Int, d: Int): Int = DateTimeUtils.fromJavaDate(new java.sql.Date(y - 1900, m - 1, d))

  test("epochDay matches java.sql.Date through fromJavaDate for every day 1-31 of every month of years 1-9999") {
    val wrong = Seq.newBuilder[(Int, Int, Int)]
    var y = 1
    while (y <= 9999) {
      var m = 1
      while (m <= 12) {
        var d = 1
        while (d <= 31) {
          if (Dbf.epochDay(y, m, d) != javaDate(y, m, d)) wrong += ((y, m, d))
          d += 1
        }
        m += 1
      }
      y += 1
    }
    assert(wrong.result().take(20) === Nil)
  }

  /** A one-field dBASE table of `cells`. */
  private def dbf(name: String, typ: Char, len: Int, dec: Int, cells: Seq[String]): String = {
    val out = new java.io.ByteArrayOutputStream()
    val head = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    head.put(0, 3.toByte).putInt(4, cells.length).putShort(8, (32 + 32 + 1).toShort).putShort(10, (1 + len).toShort)
    out.write(head.array())
    val fd = new Array[Byte](32)
    System.arraycopy("V".getBytes(StandardCharsets.US_ASCII), 0, fd, 0, 1)
    fd(11) = typ.toByte; fd(16) = len.toByte; fd(17) = dec.toByte
    out.write(fd)
    out.write(0x0D)
    for (c <- cells) {
      out.write(' ')
      out.write(c.padTo(len, ' ').take(len).getBytes(StandardCharsets.ISO_8859_1))
    }
    out.write(0x1A)
    val f = new File(dir, name)
    Files.write(f.toPath, out.toByteArray)
    f.getAbsolutePath
  }

  private def read(path: String): Seq[Any] = Dbf.read(path).records.map(_.head).toList

  test("D cells: rollover, the Julian calendar, blank and unparseable cells read as the java.sql.Date path") {
    val cells = Seq("19990231", "19990229", "20000230", "15000229", "15000230", "15000231", "10000231",
      "15821004", "15821005", "15821010", "15821014", "15821015", "00010101", "00000229", "99991231",
      "+9990101", "20230101xyz", "", "        ", "1999x231", "2023-01-01", "202301", "20231301",
      "20230100", "20230132", " 20230105", "-0230105")
    def old(s0: String): Any = {
      val s = s0.trim
      val dash = s.indexOf('-')
      if (s.isEmpty || s.length < 8 || (dash >= 0 && dash < 8)) null
      else try {
        val (y, m, d) = (Integer.parseInt(s, 0, 4, 10), Integer.parseInt(s, 4, 6, 10), Integer.parseInt(s, 6, 8, 10))
        if (m < 1 || m > 12 || d < 1 || d > 31) null else javaDate(y, m, d)
      } catch { case _: NumberFormatException => null }
    }
    val got = read(dbf("d.dbf", 'D', 11, 0, cells)).map {
      case d: java.sql.Date => DateTimeUtils.fromJavaDate(d)
      case other => other
    }
    assert(got === cells.map(old))
  }

  test("N, F and L cells read as the JDK parses their trimmed text") {
    val ints = Seq("42", "  -7", "+5", "0", "-0", "", "abc", "1.5", "99999999", "  12  ", "1 2", "+", "-")
    assert(read(dbf("n.dbf", 'N', 9, 0, ints)) ===
      ints.map(s => scala.util.Try(Integer.valueOf(s.trim.toInt)).toOption.orNull))
    val longs = ints ++ Seq("9223372036854775807", "9223372036854775808", "-9223372036854775808")
    assert(read(dbf("l.dbf", 'N', 20, 0, longs)) ===
      longs.map(s => scala.util.Try(java.lang.Long.valueOf(s.trim.toLong)).toOption.orNull))
    val doubles = Seq("123.456000000000000", "-0.000", "1e5", "1.5E-3", ".5", "1.", "NaN", "Infinity",
      "0x1p3", "1d", "123456789012345678901234", "0.1234567890123456789", "-12.5", "", "x", "1e400",
      "4.9e-324", "9007199254740993", "1e22", "1e23")
    def bits(v: Any) = v match { case d: Double => java.lang.Double.doubleToLongBits(d); case o => o }
    assert(read(dbf("f.dbf", 'N', 26, 15, doubles)).map(bits) ===
      doubles.map(s => scala.util.Try(s.trim.toDouble).toOption.map(bits).orNull))
    val bools = Seq("T", "t", "Y", "y", "F", "f", "N", "n", "?", "")
    assert(read(dbf("b.dbf", 'L', 1, 0, bools)) === bools.map(_.trim).map {
      case "" => null
      case s => s.head match { case 'T' | 't' | 'Y' | 'y' => true; case 'F' | 'f' | 'N' | 'n' => false; case _ => null }
    })
  }
}
