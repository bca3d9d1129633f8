package graft

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ColumnarFeatureReader, FeatureFormat, GdalOptions, GraftError, SplitSpec}
import graft.sources.flatgeobuf.{FgbCodec, FgbFormat}
import graft.sources.shapefile.ShapefileFormat

/** A truncated or mis-framed `.shp`, `.shx`, `.dbf` or `.fgb` fails with
  * `MalformedInput`; it never reads short. Each shapefile case cuts or
  * patches a copy of one file of the committed `stations` shapefile (86
  * records) beside intact copies of the others, and reads it twice: a
  * schemaless Spark load (the type pass, then the scan) and the scan's
  * partition reader alone, with the schema given. Each FlatGeobuf case
  * cuts or patches the stations written as one indexed `.fgb`, and reads
  * it with and without a bbox. */
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
  /** The path of a `stations.shp` whose `ext` file holds `bytes`. */
  private def copyWith(bytes: Array[Byte], ext: String = ".shp"): String = {
    n += 1
    val d = new File(dir, s"case$n")
    d.mkdirs()
    for (e <- Seq(".shp", ".shx", ".dbf", ".prj") if e != ext)
      Files.copy(new File(fixtures, s"stations$e").toPath, new File(d, s"stations$e").toPath)
    Files.write(new File(d, s"stations$ext").toPath, bytes)
    new File(d, "stations.shp").getPath
  }

  private def malformed(e: Throwable): Option[GraftError.MalformedInput] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst { case m: GraftError.MalformedInput => m }

  private def scanRows(path: String, format: FeatureFormat = new ShapefileFormat,
      readSchema: StructType = schema, opts: Map[String, String] = Map.empty): Long = {
    val r = new ColumnarFeatureReader(SplitSpec(path, 0L, -1L), readSchema, GdalOptions.from(opts),
      format, None)
    try { var rows = 0L; while (r.next()) rows += r.get().numRows; rows } finally r.close()
  }

  /** The row counts of a schemaless load and of the scan alone, each Left
    * for a `MalformedInput`; any other error fails the test. */
  private def reads(path: String, opts: Map[String, String] = Map.empty): Seq[Either[GraftError.MalformedInput, Long]] =
    Seq(() => spark.read.format("shapefile").options(opts).load(path).collect().length.toLong,
      () => scanRows(path, opts = opts))
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

  test("a .shx cut anywhere fails a split read with MalformedInput, never reads short") {
    val shx = Files.readAllBytes(new File(fixtures, "stations.shx").toPath)
    assert(shx.length === 100 + 8 * 86)
    for (cut <- (Seq(0, 27, 50, 99) ++ (100 to shx.length by 8)).distinct) {
      val got = reads(copyWith(java.util.Arrays.copyOf(shx, cut), ".shx"), Map("splitRecords" -> "10"))
      got.foreach {
        case Left(m) => assert(m.format === "shapefile" && m.path.endsWith("stations.shx"), s"cut at $cut: $m")
        case Right(rows) => assert(rows === 86L, s"a cut of the .shx at byte $cut of ${shx.length}")
      }
      if (cut < shx.length) assert(got.head.isLeft, s"a cut of the .shx at byte $cut read ${got.head}")
    }
  }

  test("a .dbf cut at every record boundary and inside a record fails with MalformedInput") {
    val dbf = Files.readAllBytes(new File(fixtures, "stations.dbf").toPath)
    val b = ByteBuffer.wrap(dbf).order(ByteOrder.LITTLE_ENDIAN)
    val (headerLen, recordLen) = (b.getShort(8).toInt, b.getShort(10).toInt)
    assert(b.getInt(4) === 86 && dbf.length === headerLen + 86 * recordLen + 1) // + the 0x1A end marker
    val cuts = Seq(0, 5, 31, 32, 40, headerLen - 1) ++
      (0 to 86).flatMap(r => Seq(headerLen + r * recordLen, headerLen + r * recordLen + recordLen / 2))
    for (cut <- cuts.distinct.filter(_ <= dbf.length)) {
      val got = reads(copyWith(java.util.Arrays.copyOf(dbf, cut), ".dbf"))
      got.foreach {
        case Left(m) => assert(m.format === "shapefile" && m.path.endsWith("stations.dbf"), s"cut at $cut: $m")
        case Right(rows) => assert(rows === 86L && cut >= headerLen + 86 * recordLen,
          s"a cut of the .dbf at byte $cut of ${dbf.length} read $rows rows")
      }
    }
  }

  test("a .dbf whose record length is not its fields' fails with MalformedInput") {
    val dbf = Files.readAllBytes(new File(fixtures, "stations.dbf").toPath)
    for (delta <- Seq(-1, -16)) { // the file stays long enough for the records the header gives
      val bytes = dbf.clone()
      val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      b.putShort(10, (b.getShort(10) + delta).toShort)
      for (got <- reads(copyWith(bytes, ".dbf"))) got match {
        case Left(m) => assert(m.offset === 10L, m.getMessage)
        case Right(rows) => fail(s"a record length $delta off read $rows rows")
      }
    }
  }

  // ------------------------------------------------------------ FlatGeobuf

  private lazy val fgb: Array[Byte] = {
    val out = TempDirs.untilExit("graft_malformed_fgb_")
    spark.read.format("shapefile").load(new File(fixtures, "stations.shp").getPath)
      .coalesce(1).write.format("flatgeobuf").mode("overwrite").save(out.getPath)
    Files.readAllBytes(new File(FeatureFormat.expand(Seq(out.getPath), new FgbFormat).head).toPath)
  }
  private lazy val fgbSchema: StructType = spark.read.format("flatgeobuf").load(copyFgb(fgb)).schema
  private val dcBox = Map("bbox" -> "-77.05,38.88,-76.99,38.92") // 19 of the 86 stations

  /** (offset of the size prefix, body length) of the header, then of each feature. */
  private lazy val frames: Seq[(Int, Int)] = {
    val b = ByteBuffer.wrap(fgb).order(ByteOrder.LITTLE_ENDIAN)
    val headerLen = b.getInt(8)
    val header = FgbCodec.readHeader(java.util.Arrays.copyOfRange(fgb, 12, 12 + headerLen))
    val first = 12 + headerLen + FgbCodec.indexSize(header.featuresCount, header.indexNodeSize).toInt
    (8, headerLen) +: Iterator.iterate(first)(o => o + 4 + b.getInt(o)).takeWhile(_ < fgb.length)
      .map(o => (o, b.getInt(o))).toSeq
  }

  private def copyFgb(bytes: Array[Byte]): String = {
    n += 1
    val f = new File(dir, s"case$n.fgb")
    Files.write(f.toPath, bytes)
    f.getPath
  }

  /** Each read of a FlatGeobuf copy: with `bbox` and without, a schemaless
    * load, a load with the schema given and the whole-file partition
    * reader (the streamed envelope test under a bbox). */
  private def fgbReads(path: String): Seq[(Long, Either[GraftError.MalformedInput, Long])] =
    for {
      (opts, whole) <- Seq((Map.empty[String, String], 86L), (dcBox, 19L))
      read <- Seq[() => Long](
        () => spark.read.format("flatgeobuf").options(opts).load(path).collect().length.toLong,
        () => spark.read.format("flatgeobuf").schema(fgbSchema).options(opts).load(path).collect().length.toLong,
        () => scanRows(path, new FgbFormat, fgbSchema, opts))
    } yield whole -> (try Right(read())
      catch { case e: Throwable => malformed(e).map(Left(_)).getOrElse(throw e) })

  /** Every read gave all its rows or a `MalformedInput`, and the reads
    * without a bbox failed. */
  private def assertWholeOrMalformed(got: Seq[(Long, Either[GraftError.MalformedInput, Long])],
      what: String): Unit = {
    assert(got.take(3).forall(_._2.isLeft), s"$what: $got")
    for ((whole, read) <- got) read match {
      case Left(m) =>
        assert(m.format === "flatgeobuf" && m.path.endsWith(".fgb"), s"$what: $m")
        assert(m.offset >= 0 && m.offset <= fgb.length, s"$what: $m")
      case Right(rows) => assert(rows === whole, s"$what read $rows rows")
    }
  }

  test("the stations FGB walks as a header and 86 features and reads whole") {
    assert(frames.length === 87)
    assert(frames.last._1 + 4 + frames.last._2 === fgb.length)
    assert(fgbReads(copyFgb(fgb)).map(_._2) === Seq(Right(86L), Right(86L), Right(86L),
      Right(19L), Right(19L), Right(19L)))
  }

  test("fgb: a cut at every feature boundary and inside every feature fails, never reads short") {
    val cuts = frames.flatMap { case (o, len) => Seq(o, o + 2, o + 4, o + 4 + len / 2) } ++
      Seq(0, 5, frames(1)._1 - 40)
    for (cut <- cuts.distinct.sorted) {
      assertWholeOrMalformed(fgbReads(copyFgb(java.util.Arrays.copyOf(fgb, cut))),
        s"a cut at byte $cut of ${fgb.length}")
    }
  }

  test("fgb: a negative, overflowing or too long size prefix fails with MalformedInput") {
    for ((o, _) <- Seq(frames.head, frames(1), frames(41), frames.last);
         prefix <- Seq(-1, Int.MinValue, Int.MaxValue, fgb.length - o - 4 + 1)) {
      val bytes = fgb.clone()
      ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).putInt(o, prefix)
      val got = fgbReads(copyFgb(bytes))
      assertWholeOrMalformed(got, s"size prefix $prefix at $o")
      for ((_, Left(m)) <- got) assert(m.offset === o.toLong, m.getMessage)
    }
  }
}
