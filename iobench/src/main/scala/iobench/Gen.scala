package iobench

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.io.WKBWriter

/** Deterministic input generator. The same seed gives the same rows; the
  * rows are the truth every read is checked against (see [[Digest]]).
  *
  * Values are chosen so that every format this benchmark uses can store
  * them exactly: doubles carry three decimals (DBF stores numbers as
  * text), coordinates six, strings are non-empty ASCII words (DBF cannot
  * tell an empty string from a null one) and field names fit DBF's ten
  * characters. */
object Gen {
  /** Extent every generated geometry lies in; windows are cut from it. */
  val MinX = 0.0; val MinY = 40.0; val Width = 20.0; val Height = 20.0

  private val gf = new GeometryFactory()
  private val words = Array("alder", "birch", "cedar", "delta", "ember", "fjord",
    "grove", "heath", "inlet", "jetty", "knoll", "ledge", "marsh", "north",
    "oasis", "prairie", "quarry", "ridge", "summit", "tundra", "upland", "vale",
    "weir", "xeric", "yard", "zenith")

  /** The late field appears only in the last share of the stream, so
    * schema inference must read that far to find it. */
  val LateShare = 0.15

  val pointSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("i_a", IntegerType), StructField("i_b", IntegerType),
    StructField("i_c", IntegerType), StructField("i_d", IntegerType),
    StructField("l_a", LongType), StructField("l_b", LongType),
    StructField("d_a", DoubleType), StructField("d_b", DoubleType),
    StructField("d_c", DoubleType), StructField("d_d", DoubleType),
    StructField("s_a", StringType), StructField("s_b", StringType),
    StructField("s_c", StringType), StructField("s_d", StringType),
    StructField("b_a", BooleanType), StructField("b_b", BooleanType),
    StructField("t_a", DateType), StructField("t_b", DateType),
    StructField("late", StringType),
    StructField("geometry", BinaryType)))

  private def wkb(g: Geometry): Array[Byte] = new WKBWriter(2).write(g)
  private def coord(v: Long, scale: Double): Double = v / scale
  private def word(r: SplittableRandom): String =
    words(r.nextInt(words.length)) + "_" + r.nextInt(1000)
  private def phrase(r: SplittableRandom, n: Int): String =
    (1 to n).map(_ => word(r)).mkString(" ")
  private def maybe[T](r: SplittableRandom, v: => T): Any =
    if (r.nextInt(20) == 0) null else v // ~5% nulls
  private def date(r: SplittableRandom): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r.nextInt(20000)))

  private def point(r: SplittableRandom): Array[Byte] = {
    val x = MinX + coord(r.nextLong(20_000_000L), 1e6)
    val y = MinY + coord(r.nextLong(20_000_000L), 1e6)
    wkb(gf.createPoint(new Coordinate(x, y)))
  }

  /** `n` point features with 20 typed attributes; the first row has every
    * attribute set so each column's type is fixed by its first value. */
  def points(seed: Long, n: Int): IndexedSeq[Row] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val lateFrom = (n * (1 - LateShare)).toInt
    (0 until n).map { i =>
      val full = i == 0
      def v[T](x: => T): Any = if (full) x else maybe(r, x)
      new GenericRowWithSchema(Array[Any](5_000_000_000L + i,
        v(r.nextInt(1_000_000) - 500_000), v(r.nextInt(100)),
        v(r.nextInt()), v(r.nextInt(7)),
        v(3_000_000_000L + r.nextLong(1_000_000_000_000L)), v(-r.nextLong(1L << 40)),
        v(coord(r.nextLong(2_000_000L) - 1_000_000L, 1e3)),
        v(coord(r.nextLong(100_000L), 1e3)),
        v(coord(r.nextLong(2_000_000_000L), 1e3)),
        v(coord(r.nextLong(1000L), 1e3)),
        v(phrase(r, 3)), v(phrase(r, 4)), v(words(r.nextInt(words.length))), v(phrase(r, 6)),
        v(r.nextBoolean()), v(r.nextInt(10) == 0),
        v(date(r)), v(date(r)),
        if (i >= lateFrom) word(r) else null,
        point(r)), pointSchema)
    }
  }
}
