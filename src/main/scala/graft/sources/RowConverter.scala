package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Converts one [[RawFeature]] at a time onto the read schema, by the
  * scan's own rules: the feature goes into a one-row [[ColumnSink]]
  * through [[ValueSink.putFeature]], with no window, bbox or limit, and
  * comes back as a copy of that row. No scan uses it; iobench's
  * `sources.convert_ns_per_row` times it, and the tests compare it with
  * a per-cell conversion. */
final class RowConverter(readSchema: StructType, opts: GdalOptions) {
  private val sink = new ColumnSink(readSchema,
    opts.copy(offset = 0L, limit = None, maxFeatures = None, bbox = None), false, None)
  sink.allocate(1)
  private val types = readSchema.fields.map(_.dataType)

  def convert(f: RawFeature): InternalRow = {
    sink.startBatch()
    sink.putFeature(f)
    sink.commit()
    val row = sink.batch.getRow(0)
    new GenericInternalRow(Array.tabulate[Any](types.length)(i =>
      if (row.isNullAt(i)) null else RowConverter.copy(row.get(i, types(i)), types(i))))
  }
}

object RowConverter {
  /** A value read from a column vector, copied off it: arrays as
    * `GenericArrayData`, recursively. */
  private def copy(v: Any, dt: DataType): Any = (v, dt) match {
    case (a: ArrayData, ArrayType(et, _)) => new GenericArrayData(Array.tabulate[Any](a.numElements)(i =>
      if (a.isNullAt(i)) null else copy(a.get(i, et), et)))
    case (s: UTF8String, _) => s.copy()
    case _ => v
  }
}
