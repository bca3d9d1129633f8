package graft.sources

import java.nio.charset.StandardCharsets

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** The receiving end of a format's one decode loop: the values of one
  * feature at a time, each put into a slot the format looks up once per
  * file (a header's columns through [[bind]]) or once per name (GeoJSON,
  * through [[slot]] behind a [[NameSlots]] memo).
  *
  * A feature is its [[fid]], its [[geometry]] (WKB, or null when it has
  * none) and its property values; the caller that drives the decode loop
  * ends it ([[ColumnSink.commit]], [[FeatureBuilder.result]]). A property
  * put twice keeps the last value; one never put reads as null. A slot of
  * -1 means the sink does not read that property: the format may skip its
  * value without decoding it.
  *
  * Values come typed as the format decodes them, and each sink converts
  * them into what it holds: [[ColumnSink]] into Spark column vectors,
  * [[FeatureBuilder]] into a [[RawFeature]] — the `open` adapter. A
  * [[RawFeature]] goes into any sink through [[putFeature]]. */
abstract class ValueSink {
  /** The slot for property `name`; -1 if this sink does not read it. */
  def slot(name: String): Int

  /** Slots for a file's columns, in order: the first column under a name
    * gets [[slot]] of it, a later column under the same name gets -1 (a
    * row's first value for a name is its value). */
  def bind(names: IndexedSeq[String]): Array[Int] = {
    val seen = new java.util.HashSet[String]()
    names.map(n => if (seen.add(n)) slot(n) else -1).toArray
  }

  def fid(v: Long): Unit
  def geometry(wkb: Array[Byte]): Unit

  def putNull(s: Int): Unit
  def putInt(s: Int, v: Int): Unit
  def putLong(s: Int, v: Long): Unit
  def putDouble(s: Int, v: Double): Unit
  def putBoolean(s: Int, v: Boolean): Unit
  def putString(s: Int, v: String): Unit
  /** UTF-8 text held in `b[off, off + len)`, copied before the call returns. */
  def putUtf8(s: Int, b: Array[Byte], off: Int, len: Int): Unit
  def putBinary(s: Int, v: Array[Byte]): Unit
  /** A date as days since 1970-01-01 (proleptic Gregorian). */
  def putDate(s: Int, days: Int): Unit
  /** A timestamp as microseconds since 1970-01-01T00:00:00Z. */
  def putTimestamp(s: Int, micros: Long): Unit
  /** A list of Int, Long, Double, Boolean, String, null or nested lists. */
  def putList(s: Int, v: Seq[Any]): Unit

  /** Forgets the properties put so far for the current feature (a
    * GeoJSON feature whose later `properties` member replaces the first). */
  def clearProps(): Unit

  /** A value of one of [[RawFeature]]'s value classes. */
  final def putAny(s: Int, v: Any): Unit = v match {
    case null => putNull(s)
    case i: Int => putInt(s, i)
    case l: Long => putLong(s, l)
    case d: Double => putDouble(s, d)
    case b: Boolean => putBoolean(s, b)
    case t: String => putString(s, t)
    case d: java.sql.Date => putDate(s, DateTimeUtils.fromJavaDate(d))
    case t: java.sql.Timestamp => putTimestamp(s, DateTimeUtils.fromJavaTimestamp(t))
    case b: Array[Byte] => putBinary(s, b)
    case l: Seq[_] => putList(s, l)
    case other => putString(s, other.toString)
  }

  /** A [[RawFeature]]: its fid, its geometry, then each prop by name. A
    * name repeated in the props reads as its first value: the props go
    * last to first, and a property put twice keeps the last value. */
  final def putFeature(f: RawFeature): Unit = {
    fid(f.fid)
    geometry(f.geomWkb)
    var i = f.props.length - 1
    while (i >= 0) {
      val (name, v) = f.props(i)
      val s = slot(name)
      if (s >= 0) putAny(s, v)
      i -= 1
    }
  }
}

/** One split's decode loop, writing into the [[ValueSink]] it was opened
  * with: [[next]] puts one feature (fid, geometry and properties) and
  * returns true, or returns false at the end. */
trait FeatureCursor extends AutoCloseable {
  def next(): Boolean
  /** How many features the split holds at most, where the format knows it
    * without reading them; -1 if it does not. */
  def sizeHint: Long = -1L
}

/** A format whose own decode loop writes into a [[ValueSink]]: it
  * overrides [[cursor]] with that loop, and [[open]] and [[openSplit]] run
  * the same loop into a [[FeatureBuilder]]. */
trait ColumnarFormat extends FeatureFormat {
  override def open(path: String, opts: GdalOptions): FeatureIterator =
    openSplit(SplitSpec(path, 0L, -1L), opts)

  override def openSplit(spec: SplitSpec, opts: GdalOptions): FeatureIterator = {
    val builder = new FeatureBuilder
    val c = cursor(spec, opts, builder)
    FeatureIterator(new Iterator[RawFeature] {
      private var ready = false
      private var more = false
      override def hasNext: Boolean = {
        if (!ready) { more = c.next(); ready = true }
        more
      }
      override def next(): RawFeature = {
        if (!hasNext) throw new NoSuchElementException("no more features")
        ready = false
        builder.result()
      }
    }, () => c.close())
  }
}

/** The sink behind [[FeatureFormat.open]]: each feature becomes a
  * [[RawFeature]] with its values boxed — numbers as Int, Long or Double,
  * text as String, dates as `java.sql.Date`, timestamps as
  * `java.sql.Timestamp`. Columns bound with [[bind]] appear in every
  * feature, in file order, null where nothing was put; names from
  * [[slot]] appear in the order they were first put, once each. Not
  * thread-safe. */
final class FeatureBuilder extends ValueSink {
  private val index = new java.util.HashMap[String, Integer]()
  private var names = new Array[String](16)
  private var values = new Array[Any](16)
  private var stamp = new Array[Int](16) // the feature that last put the slot
  private var order = new Array[Int](16) // slots in the order first put
  private var size = 0
  private var bound = 0
  private var n = 0
  private var feature = 1
  private var fidV = 0L
  private var wkb: Array[Byte] = null

  private def add(name: String): Int = {
    if (size == names.length) {
      names = java.util.Arrays.copyOf(names, size * 2)
      val grown = new Array[Any](size * 2)
      System.arraycopy(values, 0, grown, 0, size)
      values = grown
      stamp = java.util.Arrays.copyOf(stamp, size * 2)
      order = java.util.Arrays.copyOf(order, size * 2)
    }
    names(size) = name
    size += 1
    size - 1
  }

  override def slot(name: String): Int = {
    val known = index.get(name)
    if (known != null) known.intValue
    else { val s = add(name); index.put(name, s); s }
  }

  /** One slot per column, repeated names included, as the file has them. */
  override def bind(ns: IndexedSeq[String]): Array[Int] = {
    val out = ns.map(add).toArray
    bound = size
    out
  }

  override def fid(v: Long): Unit = fidV = v
  override def geometry(b: Array[Byte]): Unit = wkb = b

  private def set(s: Int, v: Any): Unit = {
    if (stamp(s) != feature) { stamp(s) = feature; order(n) = s; n += 1 }
    values(s) = v
  }
  override def putNull(s: Int): Unit = set(s, null)
  override def putInt(s: Int, v: Int): Unit = set(s, v)
  override def putLong(s: Int, v: Long): Unit = set(s, v)
  override def putDouble(s: Int, v: Double): Unit = set(s, v)
  override def putBoolean(s: Int, v: Boolean): Unit = set(s, v)
  override def putString(s: Int, v: String): Unit = set(s, v)
  override def putUtf8(s: Int, b: Array[Byte], off: Int, len: Int): Unit =
    set(s, new String(b, off, len, StandardCharsets.UTF_8))
  override def putBinary(s: Int, v: Array[Byte]): Unit = set(s, v)
  override def putDate(s: Int, days: Int): Unit = set(s, DateTimeUtils.toJavaDate(days))
  override def putTimestamp(s: Int, micros: Long): Unit = set(s, DateTimeUtils.toJavaTimestamp(micros))
  override def putList(s: Int, v: Seq[Any]): Unit = set(s, v)
  override def clearProps(): Unit = {
    if (feature < Int.MaxValue) feature += 1
    else { java.util.Arrays.fill(stamp, 0); feature = 1 }
    n = 0
  }

  /** The properties put since the last call, as a feature's props. */
  def props(): IndexedSeq[(String, Any)] = {
    val out =
      if (bound > 0) Array.tabulate(bound)(s => (names(s), if (stamp(s) == feature) values(s) else null))
      else Array.tabulate(n) { i => val s = order(i); (names(s), values(s)) }
    clearProps()
    ArraySeq.unsafeWrapArray(out)
  }

  /** The feature put since the last call. */
  def result(): RawFeature = RawFeature(fidV, wkb, props())
}

/** A sink that only notes which slots got a non-null value: the presence
  * walk header-typed formats infer their types by (see
  * [[SchemaInference.HeaderTypes]]), through the same decode as a scan.
  * Slots are the bound column positions. */
final class Presence(width: Int) extends ValueSink {
  val present = new Array[Boolean](width)
  def clear(): Unit = java.util.Arrays.fill(present, false)

  override def slot(name: String): Int = -1
  override def bind(names: IndexedSeq[String]): Array[Int] = names.indices.toArray
  override def fid(v: Long): Unit = ()
  override def geometry(wkb: Array[Byte]): Unit = ()
  override def putNull(s: Int): Unit = ()
  override def putInt(s: Int, v: Int): Unit = present(s) = true
  override def putLong(s: Int, v: Long): Unit = present(s) = true
  override def putDouble(s: Int, v: Double): Unit = present(s) = true
  override def putBoolean(s: Int, v: Boolean): Unit = present(s) = true
  override def putString(s: Int, v: String): Unit = present(s) = v != null
  override def putUtf8(s: Int, b: Array[Byte], off: Int, len: Int): Unit = present(s) = true
  override def putBinary(s: Int, v: Array[Byte]): Unit = present(s) = v != null
  override def putDate(s: Int, days: Int): Unit = present(s) = true
  override def putTimestamp(s: Int, micros: Long): Unit = present(s) = true
  override def putList(s: Int, v: Seq[Any]): Unit = present(s) = v != null
  override def clearProps(): Unit = clear()
}
