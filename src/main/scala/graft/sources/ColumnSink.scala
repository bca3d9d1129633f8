package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

import graft.geom.GeomCodec

/** A split's rows in Spark column vectors — the reference's per-column
  * buffering of a layer (`UnprocessedSeries`, PAPER.md §1.1) in the form
  * Spark's `ColumnarToRow` reads. One `OnHeapColumnVector` per read-schema
  * field; each field's conversion is picked once, from its type, and a
  * value goes straight into its vector at the batch's next row:
  *
  *   - Int → Long → Double widening, a value's text in a string column,
  *     and null on any other type clash (every data column is nullable);
  *   - the fid and geometry columns take the feature's fid and geometry
  *     (WKB, or its WKT or GeoJSON text under `geometryFormat`), and a
  *     field `x_original` reads property `x` where `x` names one of them;
  *   - a field never put for a feature is null.
  *
  * [[commit]] then decides, in this order, whether the feature becomes a
  * row: the bbox re-check (for formats that do not enforce it),
  * `maxFeatures`, `offset` and `limit`, and the pushed limit; filters
  * are Spark's, above the scan. A dropped feature leaves nothing behind:
  * the next one overwrites its row. Not thread-safe; one per split. */
final class ColumnSink(schema: StructType, opts: GdalOptions, checkBbox: Boolean,
    limit: Option[Int]) extends ValueSink with AutoCloseable {
  import ColumnSink._

  private val fields = schema.fields
  private val width = fields.length
  private val geomName = opts.geometryColumnName
  private val fidCols = fields.indices.filter(i => opts.fidColumnName.contains(fields(i).name)).toArray
  private val geomCols = fields.indices.filter(i => !fidCols.contains(i) && fields(i).name == geomName).toArray
  private val propCols = fields.indices.filter(i => !fidCols.contains(i) && !geomCols.contains(i)).toArray
  private val kinds = fields.map(f => kindOf(f.dataType))
  private val byProp = new java.util.HashMap[String, Integer]()
  for (i <- propCols) byProp.putIfAbsent(SchemaInference.propOf(fields(i).name, opts), i)
  private val toGeometry: Array[Byte] => Array[Byte] = opts.geometryFormat match {
    case "wkb" => wkb => wkb
    case "wkt" => wkb => GeomCodec.wkbToWkt(wkb).getBytes(StandardCharsets.UTF_8)
    case "geojson" => wkb => GeomCodec.wkbToGeoJson(wkb).getBytes(StandardCharsets.UTF_8)
  }

  private var vectors: Array[OnHeapColumnVector] = _
  private var capacity = 0
  /** The batch [[ColumnarFeatureReader]] hands to Spark. */
  var batch: ColumnarBatch = _

  private var row = 0 // the feature being put goes to this row
  private val written = new Array[Int](width) // the feature that last put each field
  private var feature = 1
  private var fidV = 0L
  private var wkb: Array[Byte] = null

  private var raw = 0L // features past the bbox test: maxFeatures and offset count these
  private var windowed = 0L // of them, past offset: opts.limit counts these
  private var kept = 0L // rows: the pushed limit counts these
  private val maxFeatures = opts.maxFeatures.getOrElse(Long.MaxValue)
  private val windowLimit = opts.limit.getOrElse(Long.MaxValue)
  private val rowLimit = limit.fold(Long.MaxValue)(_.toLong)
  /** True once no further feature may be read: `limit` or the pushed limit is met. */
  def done: Boolean = windowed >= windowLimit || kept >= rowLimit

  /** Allocates the vectors, for batches of up to `rows` rows. */
  def allocate(rows: Int): Unit = {
    capacity = math.max(1, rows)
    vectors = OnHeapColumnVector.allocateColumns(capacity, schema)
    batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
  }

  /** Empties the batch for the next rows. */
  def startBatch(): Unit = {
    var i = 0
    while (i < width) { vectors(i).reset(); i += 1 }
    row = 0
  }

  def full: Boolean = row >= capacity
  def rows: Int = row

  override def close(): Unit = if (batch != null) batch.close()

  override def slot(name: String): Int = {
    val i = byProp.get(name)
    if (i == null) -1 else i.intValue
  }

  override def fid(v: Long): Unit = fidV = v
  override def geometry(b: Array[Byte]): Unit = wkb = b

  private def mark(s: Int): Unit = { vectors(s).putNotNull(row); written(s) = feature }
  private def bytes(s: Int, b: Array[Byte], off: Int, len: Int): Unit = {
    vectors(s).putByteArray(row, b, off, len)
    mark(s)
  }
  private def text(s: Int, v: String): Unit = {
    val b = v.getBytes(StandardCharsets.UTF_8)
    bytes(s, b, 0, b.length)
  }

  override def putNull(s: Int): Unit = { vectors(s).putNull(row); written(s) = feature }

  override def putInt(s: Int, v: Int): Unit = kinds(s) match {
    case KInt => vectors(s).putInt(row, v); mark(s)
    case KLong => vectors(s).putLong(row, v); mark(s)
    case KDouble => vectors(s).putDouble(row, v); mark(s)
    case KString => text(s, Integer.toString(v))
    case _ => putNull(s)
  }
  override def putLong(s: Int, v: Long): Unit = kinds(s) match {
    case KLong => vectors(s).putLong(row, v); mark(s)
    case KDouble => vectors(s).putDouble(row, v.toDouble); mark(s)
    case KString => text(s, java.lang.Long.toString(v))
    case _ => putNull(s)
  }
  override def putDouble(s: Int, v: Double): Unit = kinds(s) match {
    case KDouble => vectors(s).putDouble(row, v); mark(s)
    case KString => text(s, java.lang.Double.toString(v))
    case _ => putNull(s)
  }
  override def putBoolean(s: Int, v: Boolean): Unit = kinds(s) match {
    case KBoolean => vectors(s).putBoolean(row, v); mark(s)
    case KString => text(s, if (v) "true" else "false")
    case _ => putNull(s)
  }
  override def putString(s: Int, v: String): Unit =
    if (kinds(s) == KString && v != null) text(s, v) else putNull(s)
  override def putUtf8(s: Int, b: Array[Byte], off: Int, len: Int): Unit =
    if (kinds(s) == KString) bytes(s, b, off, len) else putNull(s)
  override def putBinary(s: Int, v: Array[Byte]): Unit =
    if (v == null) putNull(s)
    else kinds(s) match {
      case KBinary => bytes(s, v, 0, v.length)
      case KString => text(s, v.toString)
      case _ => putNull(s)
    }
  override def putDate(s: Int, days: Int): Unit = kinds(s) match {
    case KDate => vectors(s).putInt(row, days); mark(s)
    case KString => text(s, java.time.LocalDate.ofEpochDay(days).toString)
    case _ => putNull(s)
  }
  override def putTimestamp(s: Int, micros: Long): Unit = kinds(s) match {
    case KTimestamp => vectors(s).putLong(row, micros); mark(s)
    case KString => text(s, DateTimeUtils.toJavaTimestamp(micros).toString)
    case _ => putNull(s)
  }
  override def putList(s: Int, v: Seq[Any]): Unit =
    if (v == null) putNull(s)
    else kinds(s) match {
      case KArray =>
        putArray(vectors(s), row, fields(s).dataType.asInstanceOf[ArrayType].elementType, v)
        mark(s)
      case KString => text(s, v.toString)
      case _ => putNull(s)
    }

  override def clearProps(): Unit = nextFeature()

  /** Marks every field unwritten for the next feature. */
  private def nextFeature(): Unit =
    if (feature < Int.MaxValue) feature += 1
    else { java.util.Arrays.fill(written, 0); feature = 1 }

  /** Ends the feature put since the last commit: it becomes the batch's
    * next row, or is dropped. Throws `FeatureLimitReached` for a feature
    * past `maxFeatures`. */
  def commit(): Unit = {
    if (checkBbox && !FeatureFormat.bboxHit(opts.bbox.get, wkb)) return nextFeature()
    if (raw >= maxFeatures) throw new GraftError.FeatureLimitReached(maxFeatures)
    raw += 1
    if (raw <= opts.offset) return nextFeature()
    windowed += 1
    var k = 0
    while (k < fidCols.length) { putLong(fidCols(k), fidV); k += 1 }
    k = 0
    while (k < propCols.length) {
      val i = propCols(k)
      if (written(i) != feature) putNull(i)
      k += 1
    }
    k = 0
    while (k < geomCols.length) {
      if (wkb == null) putNull(geomCols(k))
      else { val g = toGeometry(wkb); bytes(geomCols(k), g, 0, g.length) }
      k += 1
    }
    kept += 1
    row += 1
    nextFeature()
  }
}

object ColumnSink {
  private final val KInt = 0
  private final val KLong = 1
  private final val KDouble = 2
  private final val KBoolean = 3
  private final val KString = 4
  private final val KBinary = 5
  private final val KDate = 6
  private final val KTimestamp = 7
  private final val KArray = 8
  private final val KOther = 9

  private def kindOf(dt: DataType): Int = dt match {
    case IntegerType => KInt
    case LongType => KLong
    case DoubleType => KDouble
    case BooleanType => KBoolean
    case StringType => KString
    case BinaryType => KBinary
    case DateType => KDate
    case TimestampType => KTimestamp
    case _: ArrayType => KArray
    case _ => KOther
  }

  /** `v` as row `row` of array vector `vec`, each element converted to
    * `et` as a column of that type converts a value (null on a clash). */
  private def putArray(vec: WritableColumnVector, row: Int, et: DataType, v: Seq[Any]): Unit = {
    val child = vec.arrayData()
    val start = child.getElementsAppended
    v.foreach(e => append(child, et, e))
    vec.putArray(row, start, v.length)
  }

  private def append(vec: WritableColumnVector, dt: DataType, e: Any): Unit = (dt, e) match {
    case (_, null) => vec.appendNull()
    case (IntegerType, i: Int) => vec.appendInt(i)
    case (LongType, l: Long) => vec.appendLong(l)
    case (LongType, i: Int) => vec.appendLong(i)
    case (DoubleType, d: Double) => vec.appendDouble(d)
    case (DoubleType, l: Long) => vec.appendDouble(l.toDouble)
    case (DoubleType, i: Int) => vec.appendDouble(i)
    case (BooleanType, b: Boolean) => vec.appendBoolean(b)
    case (StringType, other) =>
      val b = other.toString.getBytes(StandardCharsets.UTF_8)
      vec.appendByteArray(b, 0, b.length)
    case (ArrayType(et, _), s: Seq[_]) =>
      vec.appendArray(s.length)
      s.foreach(x => append(vec.arrayData(), et, x))
    case _ => vec.appendNull()
  }
}

/** The scan of one split, for every format: the format's
  * [[FeatureFormat.cursor]] fills a [[ColumnSink]] batch by batch. The
  * first batch holds up to 4096 rows, fewer where the split, `limit` or
  * the pushed limit caps the count lower. */
final class ColumnarFeatureReader(
    split: SplitSpec,
    schema: StructType,
    opts: GdalOptions,
    format: FeatureFormat,
    limit: Option[Int]) extends PartitionReader[ColumnarBatch] {

  private val sink = new ColumnSink(schema, opts, opts.bbox.isDefined && !format.handlesBbox, limit)
  private val cursor = format.cursor(split, opts, sink)
  locally {
    val caps = Seq(4096L, opts.limit.getOrElse(Long.MaxValue), limit.fold(Long.MaxValue)(_.toLong),
      if (cursor.sizeHint >= 0) cursor.sizeHint else Long.MaxValue)
    try sink.allocate(caps.min.toInt)
    catch { case e: Throwable => cursor.close(); throw e }
  }

  override def next(): Boolean = {
    sink.startBatch()
    while (!sink.done && !sink.full && cursor.next()) sink.commit()
    sink.batch.setNumRows(sink.rows)
    sink.rows > 0
  }

  override def get(): ColumnarBatch = sink.batch
  override def close(): Unit = try cursor.close() finally sink.close()
}
