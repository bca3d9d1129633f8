package graft

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ColumnarFeatureReader, GdalOptions, GraftError, SplitSpec}
import graft.sources.shapefile.ShapefileFormat

/** A truncated or mis-framed `.shp` fails with `MalformedInput`; it never
  * reads short. Each case cuts or patches a copy of the committed
  * `stations.shp` (86 records) beside the intact `.shx`, `.dbf` and
  * `.prj`, and reads it twice: a schemaless Spark load (the type pass,
  * then the scan) and the scan's partition reader alone, with the schema
  * given. */
class MalformedInputSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = TempDirs.untilExit("graft_malformed_")
  private val shp = Files.readAllBytes(new File(fixtures, "stations.shp").toPath)
  private lazy val schema: StructType =
    spark.read.format("shapefile").load(new File(fixtures, "stations.shp").getPath).schema

  /** (offset, content length) of each record, walked from the header on. */
  private val records: Seq[(Int, Int)] = {
    val b = ByteBuffer.wrap(shp)
    Iterator.iterate(100)(o => o + 8 + b.getInt(o + 4) * 2).takeWhile(_ < shp.length)
      .map(o => (o, b.getInt(o + 4) * 2)).toSeq
  }

  private var n = 0
  private def copyWith(bytes: Array[Byte]): String = {
    n += 1
    val d = new File(dir, s"case$n")
    d.mkdirs()
    for (ext <- Seq(".shx", ".dbf", ".prj"))
      Files.copy(new File(fixtures, s"stations$ext").toPath, new File(d, s"stations$ext").toPath)
    val f = new File(d, "stations.shp")
    Files.write(f.toPath, bytes)
    f.getPath
  }

  private def malformed(e: Throwable): Option[GraftError.MalformedInput] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst { case m: GraftError.MalformedInput => m }

  private def scanRows(path: String): Long = {
    val r = new ColumnarFeatureReader(SplitSpec(path, 0L, -1L), schema, GdalOptions.from(Map.empty),
      new ShapefileFormat, Array.empty, None)
    try { var rows = 0L; while (r.next()) rows += r.get().numRows; rows } finally r.close()
  }

  /** The row counts of a schemaless load and of the scan alone, each Left
    * for a `MalformedInput`; any other error fails the test. */
  private def reads(path: String): Seq[Either[GraftError.MalformedInput, Long]] =
    Seq(() => spark.read.format("shapefile").load(path).collect().length.toLong, () => scanRows(path))
      .map { read =>
        try Right(read())
        catch { case e: Throwable => malformed(e).map(Left(_)).getOrElse(throw e) }
      }

  private def withFileLength(bytes: Array[Byte]): Array[Byte] = {
    val out = bytes.clone()
    ByteBuffer.wrap(out).putInt(24, out.length / 2)
    out
  }

  test("the fixture walks as 86 records and reads whole") {
    assert(records.length === 86)
    assert(records.last._1 + 8 + records.last._2 === shp.length)
    assert(reads(copyWith(shp)) === Seq(Right(86L), Right(86L)))
  }

  test("a Spark scan of a cut file fails with MalformedInput as the cause") {
    val path = copyWith(java.util.Arrays.copyOf(shp, records(40)._1 + 12))
    val e = intercept[Exception](spark.read.format("shapefile").schema(schema).load(path).collect())
    assert(malformed(e).exists(_.offset == records(40)._1 + 12), e)
  }

  test("a cut at every record boundary and inside every record fails, never reads short") {
    val cuts = records.flatMap { case (o, len) => Seq(o, o + 1, o + 5, o + 8 + len / 2) } ++ Seq(0, 27, 50)
    for (cut <- cuts.distinct.sorted) {
      val got = reads(copyWith(java.util.Arrays.copyOf(shp, cut)))
      got.foreach {
        case Left(m) =>
          assert(m.format === "shapefile" && m.path.endsWith("stations.shp"), s"cut at $cut: $m")
          assert(m.offset >= 0 && m.offset <= shp.length, s"cut at $cut: $m")
        case Right(rows) => fail(s"a cut at byte $cut of ${shp.length} read $rows rows")
      }
    }
  }

  test("with the header's file length matched to the cut, a cut inside a record still fails") {
    for ((o, len) <- records; cut <- Seq(o + 1, o + 7, o + 8 + len / 2)) {
      val got = reads(copyWith(withFileLength(java.util.Arrays.copyOf(shp, cut))))
      got.foreach {
        case Left(m) => assert(m.offset === o.toLong, s"cut at $cut: ${m.getMessage}")
        case Right(rows) => fail(s"a cut at byte $cut (record at $o) read $rows rows")
      }
    }
  }

  test("a negative or overflowing content length fails with MalformedInput") {
    for ((o, _) <- Seq(records.head, records(40), records.last); words <- Seq(-1, Int.MinValue, Int.MaxValue, 5000)) {
      val bytes = shp.clone()
      ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN).putInt(o + 4, words)
      for (got <- reads(copyWith(bytes))) got match {
        case Left(m) => assert(m.offset === o.toLong, m.getMessage)
        case Right(rows) => fail(s"content length $words at $o read $rows rows")
      }
    }
  }
}
