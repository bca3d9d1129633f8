package graft

import java.io.File

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.geom.GeomCodec

/** Spark evaluates every filter over a graft scan: a filter over a load
  * keeps the rows the same filter keeps over the load's collected rows.
  * The frame holds the values where a filter evaluator of the scan's own
  * would part from Spark's: a long of 2^53 + 1, which a compare through
  * double rounds onto 2^53; -0.0, which Spark finds equal to 0.0; and
  * U+FFFD against U+1F600, which Spark orders by their UTF-8 bytes, not
  * by their UTF-16 units. */
class ScanFilterSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = TempDirs.untilExit("graft_scan_filter_")
  private val grin = "\uD83D\uDE00" // U+1F600

  private lazy val frame = {
    val schema = StructType(Seq(StructField("l", LongType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("geometry", BinaryType)))
    spark.createDataFrame(java.util.Arrays.asList(
      Row(9007199254740993L, -0.0, "\uFFFD", GeomCodec.point(1, 2)),
      Row(1L, 1.5, grin, GeomCodec.point(3, 4))), schema)
  }

  private val filters: Seq[Column] = Seq(col("l") > 9007199254740992L, col("d") === 0.0, col("s") < grin)

  test("each filter keeps the rows over the scan that it keeps over the collected rows") {
    for (fmt <- Seq("geojson", "geojsonseq", "gpkg", "flatgeobuf")) {
      val out = new File(dir, fmt).getPath
      frame.coalesce(1).write.format(fmt).mode("overwrite").save(out)
      val df = spark.read.format(fmt).load(out)
      val rows = df.collect()
      val cached = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      for (f <- filters) {
        assert(cached.filter(f).count() === 1L, s"$fmt $f: ${rows.toSeq}")
        assert(df.filter(f).count() === 1L, s"$fmt $f")
        assert(df.filter(f).collect().toSeq.map(_.toSeq.map(normValue)) ===
          cached.filter(f).collect().toSeq.map(_.toSeq.map(normValue)), s"$fmt $f")
      }
    }
  }

  private def normValue(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case o => o
  }
}
