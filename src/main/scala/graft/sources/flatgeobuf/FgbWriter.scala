package graft.sources.flatgeobuf

import java.io.{BufferedOutputStream, FileOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import graft.sources.{FeatureSink, GdalOptions, GeometryColumn, Part, PartWriter}

/** FlatGeobuf write path: per-partition `part-NNNNN.fgb` (magic +
  * size-prefixed header + packed Hilbert R-tree + size-prefixed features
  * in Hilbert order, so bbox reads skip non-matching ranges). Files with
  * geometry-less features fall back to index_node_size = 0 (no index).
  * Property columns: Int/Long/Double/Boolean/String; other types go
  * through their string form. */
object FgbSink extends FeatureSink {
  override def extensions: Seq[String] = Seq(".fgb")
  override def writer(part: Part, schema: StructType, geometry: GeometryColumn,
      opts: GdalOptions): PartWriter = new FgbPart(part, schema, geometry, opts)
}

private final class FgbPart(part: Part, schema: StructType, geometry: GeometryColumn,
    opts: GdalOptions) extends PartWriter {
  import FgbCodec._

  private val FgbIndexNodeSize = 16 // spec default

  private val propFields = schema.fields.zipWithIndex.filter(_._2 != geometry.index)
  private val columns = propFields.map { case (f, _) =>
    FgbColumn(f.name, f.dataType match {
      case IntegerType => CtInt
      case LongType => CtLong
      case DoubleType | FloatType => CtDouble
      case BooleanType => CtBool
      case _ => CtString
    })
  }.toSeq

  // Features buffer in memory per partition file because the header
  // carries features_count (needed by readers to skip a missing index
  // deterministically) and the packed R-tree needs all bboxes up front;
  // partitions are executor-sized, not corpus-sized.
  private val features = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
  private val boxes = scala.collection.mutable.ArrayBuffer.empty[FgbIndex.Box]
  private var n = 0L
  private var allHaveGeometry = true

  override def write(row: InternalRow): Unit = {
    val geom = geometry.read(row)
    val values = propFields.map { case (f, i) =>
      if (row.isNullAt(i)) null
      else f.dataType match {
        case IntegerType => Int.box(row.getInt(i))
        case LongType => Long.box(row.getLong(i))
        case DoubleType => Double.box(row.getDouble(i))
        case FloatType => Double.box(row.getFloat(i).toDouble)
        case BooleanType => Boolean.box(row.getBoolean(i))
        case StringType => row.getUTF8String(i).toString
        case dt => row.get(i, dt).toString
      }
    }.toSeq
    features += FgbCodec.writeFeature(geom, columns, values)
    if (geom == null || geom.isEmpty) { allHaveGeometry = false; boxes += null }
    else {
      val e = geom.getEnvelopeInternal
      boxes += FgbIndex.Box(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }
    n += 1
  }

  override def rows: Long = n
  override def finish(): Unit = {
    // The packed Hilbert R-tree needs a bbox per feature; a file with any
    // geometry-less feature falls back to the index-less layout
    // (index_node_size = 0), which the spec allows and every reader honors.
    val withIndex = n > 0 && allHaveGeometry
    // reference WriteParams.geometry_type (src/lib.rs:109): an explicit
    // layer type lands in the header; default stays Unknown (per-feature
    // types carry the information)
    val headerType = opts.geometryType.map {
      case "point" => GtPoint
      case "linestring" => GtLineString
      case "polygon" => GtPolygon
      case "multipoint" => GtMultiPoint
      case "multilinestring" => GtMultiLineString
      case "multipolygon" => GtMultiPolygon
      case other => throw new IllegalArgumentException(
        s"unsupported flatgeobuf geometryType '$other'")
    }.getOrElse(GtUnknown)
    val extent =
      if (withIndex) Some(boxes.reduce(_ expand _)) else None // spec field 1
    val out = new BufferedOutputStream(new FileOutputStream(part.files(0)), 1 << 16)
    try {
      out.write(Magic)
      out.write(writeHeader(part.name, headerType, columns, n,
        if (withIndex) FgbIndexNodeSize else 0, extent))
      if (withIndex) {
        // spec clustering: features stored in Hilbert order of bbox center
        val order = FgbIndex.hilbertOrder(boxes.toIndexedSeq)
        val sorted = order.map(features)
        val offsets = sorted.map(_.length.toLong).scanLeft(0L)(_ + _)
        val items = order.indices.map(i => (boxes(order(i)), offsets(i)))
        out.write(FgbIndex.build(items, FgbIndexNodeSize))
        sorted.foreach(out.write)
      } else features.foreach(out.write)
    } finally out.close()
  }
}
