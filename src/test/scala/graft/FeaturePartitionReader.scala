package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.geom.GeomCodec
import graft.sources._

/** The row path the scans took before every scan went through
  * `ColumnSink`, kept as the oracle `ColumnarScanSpec` checks the scan
  * against. It reads the format's `openSplit` feature by feature and
  * applies the bbox test, the window and the pushed limit itself; a prop
  * is looked up by a plain first-match `find` and converted per cell by
  * [[TreeReaders.toCatalyst]], so it shares no conversion or lookup code
  * with the scan. */
final class FeaturePartitionReader(
    split: SplitSpec,
    schema: StructType,
    opts: GdalOptions,
    format: FeatureFormat,
    limit: Option[Int]) extends PartitionReader[InternalRow] {

  private val underlying = format.openSplit(split, opts)
  // The bbox contract holds on every format: formats with a native index
  // enforce it in their own readers and declare handlesBbox; the others
  // are tested here. Applied before windowing: GDAL sets the spatial
  // filter on the layer, so offset/limit/maxFeatures count filtered
  // features. Features without geometry never match a spatial filter.
  private val boxed = opts.bbox match {
    case None => underlying
    case Some(_) if format.handlesBbox => underlying
    case Some(q) => underlying.filter(f => FeatureFormat.bboxHit(q, f.geomWkb))
  }
  private val windowed = FeatureFormat.window(boxed, opts)
  private def propOf(field: String): String = SchemaInference.propOf(field, opts)
  private def first(f: RawFeature, prop: String): Option[Any] = f.props.find(_._1 == prop).map(_._2)
  private val capped = limit.map(windowed.take).getOrElse(windowed)

  private def geometry(wkb: Array[Byte]): Any =
    if (wkb == null) null
    else opts.geometryFormat match {
      case "wkb" => wkb
      case "wkt" => UTF8String.fromString(GeomCodec.wkbToWkt(wkb))
      case "geojson" => UTF8String.fromString(GeomCodec.wkbToGeoJson(wkb))
    }

  private def convert(f: RawFeature): InternalRow = new GenericInternalRow(schema.fields.map { field =>
    if (opts.fidColumnName.contains(field.name)) f.fid
    else if (field.name == opts.geometryColumnName) geometry(f.geomWkb)
    else first(f, propOf(field.name)).map(TreeReaders.toCatalyst(_, field.dataType)).orNull
  })

  private var current: InternalRow = _

  override def next(): Boolean =
    if (capped.hasNext) { current = convert(capped.next()); true } else false

  override def get(): InternalRow = current
  override def close(): Unit = underlying.close()
}
