package graft.sources.arrow

import java.io.{ByteArrayOutputStream, FileOutputStream}
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowFileWriter
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.sources.GraftError

/** Arrow IPC file writer — the write half of [[ArrowRead]], completing
  * the read/write matrix for the reference's interchange format (its
  * test builds a DataFrame FROM Arrow, ref src/test.rs:123-158; we also
  * hand one back). Driver-side materialization by the same contract as
  * the reader: Arrow IPC files are small interchange artifacts here;
  * large columnar data belongs in parquet. Geometry travels as the WKB
  * binary column it already is — an Arrow consumer sees GeoArrow-style
  * WKB. */
object ArrowWrite {

  def toFile(df: DataFrame, path: String): Unit = {
    val out = new FileOutputStream(path)
    try writeChannel(df, out.getChannel) finally out.close()
  }

  /** In-memory Arrow IPC bytes (the `gdal_bytes_from_df` surface for this
    * format), in one pass over `df`: fails with `DriverBytesTooLarge` as
    * soon as the output passes `cap` bytes, and with `EmptyDataframe`
    * when `df` has no rows. */
  def toBytes(df: DataFrame, cap: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream() {
      // once over the cap, later writes (the footer that closing the
      // writer adds) are dropped so the cap error is the one raised
      private var over = false
      override def write(b: Array[Byte], off: Int, len: Int): Unit = if (!over) {
        if (count + len.toLong > cap) {
          over = true
          throw new GraftError.DriverBytesTooLarge(BigInt(count) + len, cap)
        }
        super.write(b, off, len)
      }
    }
    val ch = java.nio.channels.Channels.newChannel(bos)
    val rows = try writeChannel(df, ch) finally ch.close()
    if (rows == 0) throw new GraftError.EmptyDataframe
    bos.toByteArray
  }

  /** Writes `df` as one Arrow IPC file; returns the number of rows. */
  private def writeChannel(df: DataFrame,
      channel: java.nio.channels.WritableByteChannel): Long = {
    val sparkSchema = df.schema
    val arrowFields = sparkSchema.fields.map { f =>
      new Field(f.name, FieldType.nullable(sparkToArrow(f)), null)
    }
    val alloc = new RootAllocator(Long.MaxValue)
    val root = VectorSchemaRoot.create(new Schema(arrowFields.toSeq.asJava), alloc)
    val writer = new ArrowFileWriter(root, null, channel)
    try {
      writer.start()
      // one batch per collected slice — interchange-size data (the
      // reader's contract); 1<<16 rows per batch keeps buffers bounded
      val it = df.toLocalIterator()
      val batch = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      var rows = 0L
      def flush(): Unit = if (batch.nonEmpty) {
        root.allocateNew()
        var r = 0
        while (r < batch.length) {
          val row = batch(r)
          var c = 0
          while (c < sparkSchema.length) {
            setValue(root.getVector(c), r, row, c, sparkSchema(c).dataType)
            c += 1
          }
          r += 1
        }
        root.setRowCount(batch.length)
        writer.writeBatch()
        rows += batch.length
        batch.clear()
      }
      while (it.hasNext) {
        batch += it.next()
        if (batch.length >= (1 << 16)) flush()
      }
      flush()
      writer.end()
      rows
    } finally {
      writer.close()
      root.close()
      alloc.close()
    }
  }

  private def sparkToArrow(f: StructField): ArrowType = f.dataType match {
    case IntegerType => new ArrowType.Int(32, true)
    case LongType => new ArrowType.Int(64, true)
    case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
    case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    case StringType => ArrowType.Utf8.INSTANCE
    case BinaryType => ArrowType.Binary.INSTANCE
    case BooleanType => ArrowType.Bool.INSTANCE
    case other => throw new IllegalArgumentException(
      s"arrow writer: unsupported column type $other (${f.name})")
  }

  private def setValue(v: FieldVector, i: Int,
      row: org.apache.spark.sql.Row, c: Int, dt: DataType): Unit =
    if (row.isNullAt(c)) v match {
      case x: BaseFixedWidthVector => x.setNull(i)
      case x: BaseVariableWidthVector => x.setNull(i)
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    else (v, dt) match {
      case (x: IntVector, _) => x.setSafe(i, row.getInt(c))
      case (x: BigIntVector, _) => x.setSafe(i, row.getLong(c))
      case (x: Float4Vector, _) => x.setSafe(i, row.getFloat(c))
      case (x: Float8Vector, _) => x.setSafe(i, row.getDouble(c))
      case (x: VarCharVector, _) => x.setSafe(i, row.getString(c).getBytes("UTF-8"))
      case (x: VarBinaryVector, _) => x.setSafe(i, row.getAs[Array[Byte]](c))
      case (x: BitVector, _) => x.setSafe(i, if (row.getBoolean(c)) 1 else 0)
      case (other, _) => throw new IllegalStateException(s"unreachable: $other")
    }
}
