package iobench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{BinaryType, BooleanType, DateType, DoubleType, FloatType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom._

/** Order-independent content digest: the row count plus the sum of one
  * mixed 64-bit hash per row. A row hash covers the truth columns by
  * (lower-cased) name, so column order, extra reader columns (such as a
  * GeoPackage `fid`) and all-null columns a reader drops do not matter.
  *
  * Values are compared after type erasure, because the formats store
  * types differently: numbers, booleans (0/1) and dates (epoch days)
  * compare as doubles, and a string that spells one of them compares as
  * that value. Geometry is compared by its coordinates, whichever of WKB
  * (either byte order), WKT or GeoJSON a reader returns; a one-part
  * multi-geometry equals its part. */
final case class Digest(count: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, hash + o.hash)
  override def toString: String = f"$count rows/$hash%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def num(d: Double): Long = mix(java.lang.Double.doubleToLongBits(d + 0.0) ^ 0x4e)
  private def bytes(b: Array[Byte]): Long = XXH64.hashUnsafeBytes(b,
    org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 0x53L)

  private def isDate(s: String): Boolean =
    s.length == 10 && s.charAt(4) == '-' && s.charAt(7) == '-' && s.charAt(0).isDigit

  /** A string that spells a number, boolean or ISO date hashes as that value. */
  private def str(s: String): Long = {
    val c = if (s.isEmpty) 'x' else s.charAt(0)
    if (isDate(s)) num(java.time.LocalDate.parse(s).toEpochDay.toDouble)
    else if (c.isDigit || c == '-' || c == '+' || c == '.')
      try num(s.toDouble) catch { case _: NumberFormatException => bytes(s.getBytes(StandardCharsets.UTF_8)) }
    else if (s == "true") num(1) else if (s == "false") num(0)
    else bytes(s.getBytes(StandardCharsets.UTF_8))
  }

  /** Hash of one external attribute value (generator truth side). */
  private def value(v: Any): Long = v match {
    case i: Int => num(i)
    case l: Long => num(l.toDouble)
    case d: Double => num(d)
    case b: Boolean => num(if (b) 1 else 0)
    case d: java.sql.Date => num(d.toLocalDate.toEpochDay.toDouble)
    case s: String => str(s)
    case u: UTF8String => str(u.toString)
    case other => str(other.toString)
  }

  private def field(name: String, h: Long): Long = mix(name.hashCode * 0x9E3779B97F4A7C15L ^ h)

  // ------------------------------------------------------------ geometry

  private def coordHash(h: Long, c: Coordinate): Long =
    mix(mix(h ^ java.lang.Double.doubleToLongBits(c.x + 0.0)) ^ java.lang.Double.doubleToLongBits(c.y + 0.0))

  def geometry(g: Geometry): Long = g match {
    case null => 0L
    case p: Point => coordHash(mix(1), p.getCoordinate)
    case gc: GeometryCollection if gc.getNumGeometries == 1 => geometry(gc.getGeometryN(0))
    case other => other.getCoordinates.foldLeft(mix(other.getGeometryType.hashCode))(coordHash)
  }

  private val factory = new GeometryFactory()
  private val wkbReader = ThreadLocal.withInitial(() => new org.locationtech.jts.io.WKBReader(factory))
  private val wktReader = ThreadLocal.withInitial(() => new org.locationtech.jts.io.WKTReader(factory))

  def wkb(b: Array[Byte]): Long = geometry(wkbReader.get.read(b))
  def wkt(s: String): Long = geometry(wktReader.get.read(s))

  // ------------------------------------------------------------ rows

  /** One hash per generator row, as [[RowHasher]] computes it for a read row. */
  def rowHashes(rows: IndexedSeq[Row], schema: StructType): IndexedSeq[Long] = {
    val names = schema.fieldNames.map(_.toLowerCase)
    val geom = names.indexOf("geometry")
    rows.map { r =>
      var h = 0L
      var i = 0
      while (i < names.length) {
        if (i != geom && !r.isNullAt(i)) h += field(names(i), value(r.get(i)))
        i += 1
      }
      mix(h ^ wkb(r.getAs[Array[Byte]](geom)))
    }
  }

  def of(rowHashes: Iterable[Long]): Digest = Digest(rowHashes.size, rowHashes.sum)

  /** Digest of generator rows (truth). */
  def ofRows(rows: IndexedSeq[Row], schema: StructType): Digest = of(rowHashes(rows, schema))

  def envelope(b: Array[Byte]): Envelope = if (b == null) null else wkbReader.get.read(b).getEnvelopeInternal

  /** Hashes rows of a read result; `truth` names the columns compared. */
  final class RowHasher(schema: StructType, truth: Set[String]) extends Serializable {
    private val cols = schema.fields.zipWithIndex.collect {
      case (f, i) if truth.contains(f.name.toLowerCase) => (f.name.toLowerCase, f.dataType, i)
    }
    def hash(r: InternalRow): Long = {
      var h = 0L
      var g = 0L
      for ((name, dt, i) <- cols if !r.isNullAt(i)) {
        if (name == "geometry") g = dt match {
          case BinaryType => wkb(r.getBinary(i))
          case _ =>
            val s = r.getUTF8String(i).toString
            if (s.startsWith("{")) geometry(graft.geom.GeomCodec.fromGeoJson(s)) else wkt(s)
        }
        else h += field(name, dt match {
          case IntegerType | DateType => num(r.getInt(i))
          case LongType => num(r.getLong(i).toDouble)
          case DoubleType => num(r.getDouble(i))
          case FloatType => num(r.getFloat(i))
          case BooleanType => num(if (r.getBoolean(i)) 1 else 0)
          case StringType => str(r.getUTF8String(i).toString)
          case BinaryType => bytes(r.getBinary(i))
          case other => str(r.get(i, other).toString)
        })
      }
      mix(h ^ g)
    }
  }

  /** Materializes every row of `df` and digests it, inside one SQL
    * execution, so listeners see the executed plan and its metrics. */
  def ofFrame(df: DataFrame, truth: StructType): Digest = {
    val qe = df.queryExecution
    val hasher = new RowHasher(df.schema, truth.fieldNames.map(_.toLowerCase).toSet)
    SQLExecution.withNewExecutionId(qe, Some("iobench.digest")) {
      qe.toRdd.mapPartitions { it =>
        var c = 0L; var h = 0L
        while (it.hasNext) { h += hasher.hash(it.next()); c += 1 }
        Iterator(Digest(c, h))
      }.collect().foldLeft(empty)(_ + _)
    }
  }
}
