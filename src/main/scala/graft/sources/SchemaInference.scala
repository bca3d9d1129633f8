package graft.sources

import scala.collection.mutable
import org.apache.spark.sql.types._

/** A feature as produced by a format parser: optional FID, geometry as WKB
  * (null when absent/empty — reference src/lib.rs:386-388), and named
  * property values in document order. Values are one of: null, Int, Long,
  * Double, Boolean, String, java.sql.Date, java.sql.Timestamp,
  * Seq[Int|Long|Double|String].
  *
  * The [[FeatureFormat.open]] view of a file. A [[ColumnarFormat]] builds
  * it with a [[FeatureBuilder]] over its one decode loop, only for
  * `open`; its scans put values straight into column vectors
  * ([[ColumnSink]]). The other formats (KML, GPX, GML) build it
  * themselves, and their scans put it into the same sink
  * ([[ValueSink.putFeature]]).
  *
  * Readers should give every feature of a file its props in one stable
  * order, using the same `String` instance for a name each time (a header
  * or column array, the parser's canonical names): schema inference then
  * finds each name's slot by position, with no hashing ([[NameSlots]]).
  * Props in any other order, repeated, missing or under equal but
  * distinct strings still give the same schemas, only slower. */
final case class RawFeature(
    fid: Long,
    geomWkb: Array[Byte],
    props: IndexedSeq[(String, Any)])

/** Schema inference over a feature stream, per SURVEY.md §1.4 (reference
  * src/lib.rs:332-485):
  *   1. first occurrence of a field creates its column, typed from the
  *      first observed non-null value;
  *   2-3. missing/late fields are nullable with null backfill (all our
  *      data columns are nullable, which subsumes the lazy flag);
  *   4. all-null columns are dropped;
  *   5. collisions with the geometry/FID column name are renamed
  *      `{name}_original` (rename wins over the reference's dead error
  *      variants, src/error.rs:32-38);
  *   6. column order is FIRST-SEEN order (deterministic — an improvement
  *      over the reference's HashMap order, src/lib.rs:474), FID first,
  *      geometry last.
  * Numeric widening Int→Long→Double (and anything mixed → String) is our
  * improvement for schemaless JSON; GDAL layers are uniformly typed so the
  * reference never faces it.
  */
object SchemaInference {

  /** One feature's property (name, type) pairs in document order — all
    * inference needs of a feature. A null value types as `NullType`. */
  type FeatureTypes = IndexedSeq[(String, DataType)]

  def typeOf(v: Any): DataType = v match {
    case null => NullType
    case _: Int => IntegerType
    case _: Long => LongType
    case _: Double => DoubleType
    case _: Boolean => BooleanType
    case _: String => StringType
    case _: java.sql.Date => DateType
    case _: java.sql.Timestamp => TimestampType
    case _: Array[Byte] => BinaryType // non-geometry blob columns (SpatiaLite)
    case s: Seq[_] =>
      val elem = s.collectFirst { case e if e != null => typeOf(e) }.getOrElse(NullType)
      ArrayType(if (elem == NullType) StringType else elem)
    case _ => StringType
  }

  def typesOf(f: RawFeature): FeatureTypes = f.props.map { case (n, v) => (n, typeOf(v)) }

  private def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, y) => y
    case (x, NullType) => x
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType
    case (IntegerType, DoubleType) | (DoubleType, IntegerType) => DoubleType
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (ArrayType(x, _), ArrayType(y, _)) => ArrayType(widen(x, y))
    case _ => StringType
  }

  /** Feature types for a format whose columns each carry one type in the
    * file header (DBF, FlatGeobuf). A header-typed column cannot widen, so
    * its cells are tested only until the first non-null one settles it;
    * from then on every feature reports it with its header type, which
    * leaves the inferred schema unchanged. The first `offset` features
    * of a file, which the window drops unread, must not go through
    * [[next]]: they settle nothing. */
  final class HeaderTypes(columns: IndexedSeq[(String, DataType)]) {
    private val nulls = columns.map { case (n, _) => (n, NullType) }
    private val settled = new Array[Boolean](columns.length)
    private var unsettled = columns.length

    /** Whether every column has met a value: [[next]] asks nothing more. */
    def settledAll: Boolean = unsettled == 0

    /** One feature that has a value slot for every column; `present(c)`
      * is asked only of columns not yet settled. */
    def next(present: Int => Boolean): FeatureTypes =
      if (unsettled == 0) columns
      else {
        val out = new Array[(String, DataType)](columns.length)
        var c = 0
        while (c < columns.length) {
          if (!settled(c) && present(c)) { settled(c) = true; unsettled -= 1 }
          out(c) = if (settled(c)) columns(c) else nulls(c)
          c += 1
        }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
      }
  }

  /** The property a read-schema field holds: rule 5 inverted, so field
    * `x_original` holds prop `x` where `x` names the geometry or fid
    * column; any other field holds the prop of its own name. */
  def propOf(field: String, opts: GdalOptions): String = {
    val prop = field.stripSuffix("_original")
    if (field.endsWith("_original") && (prop == opts.geometryColumnName || opts.fidColumnName.contains(prop))) prop
    else field
  }

  def infer(features: Iterator[RawFeature], opts: GdalOptions): StructType =
    inferTypes(features.map(typesOf), opts)

  def inferTypes(features: Iterator[FeatureTypes], opts: GdalOptions): StructType = {
    // slot s holds the s-th name seen and its type so far
    val slots = new NameSlots
    val order = mutable.ArrayBuffer[String]()
    val types = mutable.ArrayBuffer[DataType]()
    var n = 0L
    while (n < opts.inferLimit && features.hasNext) {
      val it = features.next().iterator
      var pos = 0
      while (it.hasNext) {
        val (name, t) = it.next()
        val s = slots.slotAt(pos, name)
        if (s == types.length) { order += name; types += t }
        else if (types(s) != t) types(s) = widen(types(s), t)
        pos += 1
      }
      n += 1
    }
    val geomName = opts.geometryColumnName
    val reserved = Set(geomName) ++ opts.fidColumnName
    val dataFields = order.indices
      .filter(s => types(s) != NullType) // rule 4: all-null dropped
      .map { s =>
        val name = order(s)
        val out = if (reserved.contains(name)) s"${name}_original" else name // rule 5
        StructField(out, types(s), nullable = true)
      }
    val geomType = if (opts.geometryFormat == "wkb") BinaryType else StringType
    val fidField = opts.fidColumnName.map(StructField(_, LongType, nullable = true)).toSeq
    StructType(fidField ++ dataFields :+ StructField(geomName, geomType, nullable = true))
  }
}
