package graft

import java.io.{File, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.geom.GeomCodec
import graft.sources._
import graft.sources.csvgeo.CsvGeoFormat
import graft.sources.flatgeobuf.{FgbCodec, FgbFormat}
import graft.sources.geojson.{GeoJsonFormat, GeoJsonSeqFormat}
import graft.sources.gpkg.GpkgFormat
import graft.sources.shapefile.{Dbf, ShapefileFormat}
import graft.sources.spatialite.{SpatiaLiteFormat, SqliteWriter}

/** The type pass each format overrides (`FeatureFormat.openTypes`) must
  * infer exactly the schema the full parse infers (`open`, then
  * `SchemaInference.infer`): fields, order, types, widening, the all-null
  * drop, the `_original` rename, the FID column and the scan window. Every
  * fixture is written here, into a temp dir. */
class InferenceEquivalenceSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = TempDirs.untilExit("graft_infer_eq_")

  private def file(name: String, bytes: Array[Byte]): String = {
    val f = new File(dir, name)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }
  private def text(name: String, s: String): String = file(name, s.getBytes(StandardCharsets.UTF_8))

  private def fullParse(format: FeatureFormat, paths: Seq[String], opts: GdalOptions): StructType = {
    val its = paths.map(format.open(_, opts))
    try SchemaInference.infer(its.iterator.flatMap(FeatureFormat.window(_, opts)), opts)
    finally its.foreach(_.close())
  }

  private def typePass(format: FeatureFormat, paths: Seq[String], opts: GdalOptions): StructType = {
    val its = paths.map(format.openTypes(_, opts))
    try SchemaInference.inferTypes(its.iterator.flatMap(FeatureFormat.window(_, opts)), opts)
    finally its.foreach(_.close())
  }

  /** Scan windows, inference cap, FID and geometry column options. */
  private val variants: Seq[Map[String, String]] = Seq(
    Map.empty,
    Map("inferLimit" -> "3"),
    Map("offset" -> "1"),
    Map("offset" -> "2", "limit" -> "5"),
    Map("maxFeatures" -> "1000"),
    Map("fidColumnName" -> "fid"),
    Map("geometryColumnName" -> "a", "geometryFormat" -> "wkt"))

  /** Asserts both paths agree under every variant plus `extra`, and that
    * both raise the feature limit; returns the default schema. */
  private def assertSame(format: FeatureFormat, paths: Seq[String],
      extra: Seq[Map[String, String]] = Nil): StructType = {
    for (v <- variants ++ extra) {
      val opts = GdalOptions.from(v)
      assert(typePass(format, paths, opts) === fullParse(format, paths, opts), s"options $v")
    }
    val capped = GdalOptions.from(Map("maxFeatures" -> "2"))
    intercept[GraftError.FeatureLimitReached](typePass(format, paths, capped))
    intercept[GraftError.FeatureLimitReached](fullParse(format, paths, capped))
    typePass(format, paths, GdalOptions.from(Map.empty))
  }

  // ------------------------------------------------------------- GeoJSON

  private val point = """{"type":"Point","coordinates":[1.5,2.5]}"""
  private val polygon =
    """{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}"""

  /** 20 features: mixed and missing props, an all-null `ghost`, widening
    * Int→Long→Double on `a`, Int+String on `m`, a `geometry` property,
    * lists, nested objects, repeated keys, absent or null `properties`,
    * and `late`, first seen in the last 15% of the stream. */
  private val geoJsonFeatures: Seq[String] = (0 until 20).map { i =>
    val props = i match {
      case 0 => """"properties":{"a":1,"m":1,"ghost":null,"geometry":"shadow","tags":[1,2],"obj":{"k":[1,{"x":null}]},"flag":true}"""
      case 1 => """"properties":{"a":2,"sparse":"s","tags":[null,"x"],"ghost":null}"""
      case 2 => """"properties":{"m":"text","a":null,"d":"dup","e":"x","d":1}"""
      case 3 => """"properties":null"""
      case 4 => """"bbox":[0,0,1,1]"""
      case 5 => """"properties":{"a":5000000000,"nested":[[1,2],[]],"neg":-2147483648}"""
      case 6 => """"properties":{"zz":1},"properties":{"a":3}"""
      case 7 => """"properties":{"a":2.5,"big":123456789012345678901234567890,"neg":-2147483649}"""
      case 8 => """"properties":{"empty_list":[],"nulls_list":[null,null],"e":"y","d":null}"""
      case n if n >= 17 => s""""properties":{"a":$n,"late":"l$n"}"""
      case n if n % 2 == 0 => s""""properties":{"flag":false,"a":$n}"""
      case n => s""""properties":{"a":$n,"flag":false}"""
    }
    val geom = i match {
      case 3 => "null"
      case 7 => polygon
      case _ => point
    }
    val id = if (i % 3 == 0) s""""id":"f$i",""" else s""""id":$i,"""
    s"""{"type":"Feature",$id"geometry":$geom,$props}"""
  }

  test("geojson: the token walk infers the full-parse schema") {
    val collection = text("fc.geojson",
      s"""{"type":"FeatureCollection","name":"x","features":[${geoJsonFeatures.mkString(",\n")}]}""")
    val bare = text("bare.geojson", s"[${geoJsonFeatures.take(5).mkString(",")}]")
    val s = assertSame(new GeoJsonFormat, Seq(collection))
    assertSame(new GeoJsonFormat, Seq(bare))
    assertSame(new GeoJsonFormat, Seq(collection, bare))
    assert(s.fieldNames.toSeq === Seq("a", "m", "geometry_original", "tags", "obj", "flag",
      "sparse", "d", "e", "nested", "neg", "big", "empty_list", "nulls_list", "late", "geometry"))
    assert(s("a").dataType === DoubleType)
    assert(s("m").dataType === StringType)
    assert(s("d").dataType === IntegerType) // a repeated key's last value wins
    assert(s("neg").dataType === LongType)
    assert(s("big").dataType === LongType)
    assert(s("tags").dataType === ArrayType(StringType))
    assert(s("nested").dataType === ArrayType(ArrayType(IntegerType)))
    assert(s("nulls_list").dataType === ArrayType(StringType))
    assert(!s.fieldNames.contains("zz") && !s.fieldNames.contains("ghost"))
  }

  test("geojsonseq: the token walk infers the full-parse schema, file by file") {
    val lines = geoJsonFeatures.zipWithIndex.map {
      case (f, 4) => "\u001e" + f
      case (f, _) => f
    }
    val parts = new File(dir, "seq")
    text("seq/part-0.geojsonl", lines.take(12).mkString("\n", "\n\n", "\n"))
    text("seq/part-1.geojsonl", lines.drop(12).mkString("\n"))
    val files = FeatureFormat.expand(Seq(parts.getAbsolutePath), new GeoJsonSeqFormat)
    assert(files.length === 2)
    val s = assertSame(new GeoJsonSeqFormat, files)
    assert(spark.read.format("geojsonseq").load(parts.getAbsolutePath).schema === s)
    assert(spark.read.format("geojsonseq").option("inferLimit", "15").load(parts.getAbsolutePath)
      .schema === fullParse(new GeoJsonSeqFormat, files, GdalOptions.from(Map("inferLimit" -> "15"))))
  }

  // ----------------------------------------------------------- shapefile

  /** A dBASE III table: `fields` are (name, type, length, decimals);
    * each row is (deleted, cell texts). */
  private def dbf(fields: Seq[(String, Char, Int, Int)], rows: Seq[(Boolean, Seq[String])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val recordLen = 1 + fields.map(_._3).sum
    val head = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    head.put(0, 3.toByte).putInt(4, rows.length)
      .putShort(8, (32 + 32 * fields.length + 1).toShort).putShort(10, recordLen.toShort)
    out.write(head.array())
    for ((name, typ, len, dec) <- fields) {
      val fd = new Array[Byte](32)
      System.arraycopy(name.getBytes(StandardCharsets.US_ASCII), 0, fd, 0, name.length)
      fd(11) = typ.toByte; fd(16) = len.toByte; fd(17) = dec.toByte
      out.write(fd)
    }
    out.write(0x0D)
    for ((deleted, cells) <- rows) {
      out.write(if (deleted) '*' else ' ')
      for (((_, _, len, _), c) <- fields.zip(cells))
        out.write(c.padTo(len, ' ').take(len).getBytes(StandardCharsets.ISO_8859_1))
    }
    out.write(0x1A)
    out.toByteArray
  }

  /** .shp and .shx of point records at (x, x) for each x. */
  private def shpPoints(xs: Seq[Double]): (Array[Byte], Array[Byte]) = {
    def header(words: Int): ByteBuffer = {
      val h = ByteBuffer.allocate(100)
      h.putInt(0, 9994).putInt(24, words)
      h.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, 1)
        .putDouble(36, xs.min).putDouble(44, xs.min).putDouble(52, xs.max).putDouble(60, xs.max)
      h
    }
    val shp = ByteBuffer.allocate(100 + 28 * xs.length)
    val shx = ByteBuffer.allocate(100 + 8 * xs.length)
    shp.put(header(shp.capacity / 2).array())
    shx.put(header(shx.capacity / 2).array())
    xs.zipWithIndex.foreach { case (x, i) =>
      shx.putInt(50 + 14 * i).putInt(10)
      shp.putInt(i + 1).putInt(10)
      shp.order(ByteOrder.LITTLE_ENDIAN).putInt(1).putDouble(x).putDouble(x)
      shp.order(ByteOrder.BIG_ENDIAN)
    }
    (shp.array(), shx.array())
  }

  private val dbfFields = Seq(("name", 'C', 12, 0), ("i", 'N', 5, 0), ("l", 'N', 12, 0),
    ("d", 'N', 10, 3), ("f", 'F', 8, 2), ("b", 'L', 1, 0), ("t", 'D', 8, 0),
    ("geometry", 'C', 6, 0), ("ghost", 'C', 4, 0), ("bad", 'N', 6, 0), ("del", 'C', 4, 0),
    ("late", 'C', 4, 0))

  /** 20 rows; `i` is blank until row 4, `bad` never parses, `del` is
    * filled only in the deleted row 2, `late` only in rows 17-19. */
  private val dbfRows: Seq[(Boolean, Seq[String])] = (0 until 20).map { r =>
    (r == 2, Seq(s" n $r\t ", if (r < 4) "" else s"$r", s"${5000000000L + r}", s"$r.125",
      if (r % 2 == 0) "" else "1.50", if (r % 3 == 0) "?" else "T", f"202301${r + 1}%02d",
      "g", "    ", "abc", if (r == 2) "gone" else "", if (r >= 17) "l" else ""))
  }

  private def shapefile(name: String, rows: Seq[(Boolean, Seq[String])] = dbfRows): String = {
    val (shp, shx) = shpPoints(rows.indices.map(_.toDouble))
    file(s"$name.dbf", dbf(dbfFields, rows))
    file(s"$name.shx", shx)
    file(s"$name.shp", shp)
  }

  test("shapefile: DBF-only types match the full parse; bbox types in-box records only") {
    val shp = shapefile("pts")
    val s = assertSame(new ShapefileFormat, Seq(shp), Seq(Map("bbox" -> "-1,-1,9.5,9.5")))
    assert(s.fieldNames.toSeq === Seq("name", "i", "l", "d", "f", "b", "t", "geometry_original",
      "late", "geometry"))
    assert(s.map(_.dataType).take(7) ===
      Seq(StringType, IntegerType, LongType, DoubleType, DoubleType, BooleanType, DateType))
    val boxed = typePass(new ShapefileFormat, Seq(shp), GdalOptions.from(Map("bbox" -> "-1,-1,9.5,9.5")))
    assert(!boxed.fieldNames.contains("late"))
    assert(spark.read.format("shapefile").option("bbox", "-1,-1,9.5,9.5").load(shp).schema === boxed)

    // the type pass never reads the .shx
    val noShx = shapefile("noshx")
    new File(noShx.replace(".shp", ".shx")).delete()
    assertSame(new ShapefileFormat, Seq(noShx))
    // a .dbf shorter than the .shp: the extra records have no attributes
    val short = shapefile("short")
    file("short.dbf", dbf(dbfFields, dbfRows.take(15)))
    assertSame(new ShapefileFormat, Seq(short))
    val cap = GdalOptions.from(Map("maxFeatures" -> "17")) // counts the .shp records, not the rows
    intercept[GraftError.FeatureLimitReached](typePass(new ShapefileFormat, Seq(short), cap))
  }

  test("shapefile: a .shp.zip infers the same schema as its members") {
    val shp = shapefile("zipped")
    val zip = new File(dir, "zipped.shp.zip")
    val zout = new java.util.zip.ZipOutputStream(new FileOutputStream(zip))
    for (ext <- Seq(".shp", ".shx", ".dbf")) {
      zout.putNextEntry(new java.util.zip.ZipEntry(s"layer$ext"))
      zout.write(Files.readAllBytes(new File(shp.replace(".shp", ext)).toPath))
      zout.closeEntry()
    }
    zout.close()
    val s = assertSame(new ShapefileFormat, Seq(zip.getAbsolutePath))
    assert(s === typePass(new ShapefileFormat, Seq(shp), GdalOptions.from(Map.empty)))
  }

  test("DBF cells: trailing whitespace trimmed, interior kept; unparseable numbers are null") {
    val path = file("cells.dbf", dbf(dbfFields, dbfRows))
    val rows = Dbf.read(path).records.toIndexedSeq
    assert(rows(0)(0) === " n 0") // trailing tab and spaces go, leading and interior stay
    assert(rows(0)(1) === null && rows(5)(1) === 5)
    assert(rows(5)(2) === 5000000005L)
    assert(rows.forall(_(9) == null)) // "abc" in an N field
    assert(rows(2).forall(_ == null)) // deleted
    assert(rows(0)(5) === null && rows(1)(5) === true)
    assert(rows(0)(6) === java.sql.Date.valueOf("2023-01-01"))
  }

  // ---------------------------------------------------------- FlatGeobuf

  test("flatgeobuf: header types plus property presence match the full parse") {
    val cols = Seq(("s", FgbCodec.CtString), ("i", FgbCodec.CtInt), ("l", FgbCodec.CtLong),
      ("d", FgbCodec.CtDouble), ("b", FgbCodec.CtBool), ("ghost", FgbCodec.CtString),
      ("geometry", FgbCodec.CtString), ("late", FgbCodec.CtString))
      .map { case (n, t) => FgbCodec.FgbColumn(n, t) }
    val out = new java.io.ByteArrayOutputStream()
    out.write(FgbCodec.Magic)
    out.write(FgbCodec.writeHeader("t", FgbCodec.GtPoint, cols, 20L))
    for (r <- 0 until 20) {
      val values: Seq[Any] =
        if (r == 3) Seq.fill(cols.length)(null) // no property buffer at all
        else Seq(if (r == 0) null else s"s$r", if (r < 5) null else Int.box(r), Long.box(r.toLong),
          if (r % 2 == 0) null else Double.box(r + 0.5), Boolean.box(r % 3 == 0), null,
          if (r == 9) "shadow" else null, if (r >= 17) "l" else null)
      out.write(FgbCodec.writeFeature(GeomCodec.fromWkt(s"POINT ($r $r)"), cols, values))
    }
    val path = file("crafted.fgb", out.toByteArray)
    // no index: a bbox load falls back to the full parse's envelope test
    val s = assertSame(new FgbFormat, Seq(path), Seq(Map("bbox" -> "-1,-1,9.5,9.5")))
    assert(s.fieldNames.toSeq === Seq("s", "i", "l", "d", "b", "geometry_original", "late", "geometry"))
    assert(s.map(_.dataType).take(5) === Seq(StringType, IntegerType, LongType, DoubleType, BooleanType))
  }

  test("flatgeobuf: a bbox load types only the features the R-tree picks") {
    val schema = StructType(Seq(StructField("near", StringType), StructField("far", StringType),
      StructField("geometry", BinaryType)))
    val rows = (0 until 20).map { r =>
      val x = if (r < 10) r.toDouble else 100.0 + r
      Row(if (r < 10) s"n$r" else null, if (r < 10) null else s"f$r",
        GeomCodec.toWkb(GeomCodec.fromWkt(s"POINT ($x $x)")))
    }
    val out = new File(dir, "indexed").getAbsolutePath
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.format("flatgeobuf").mode("overwrite").save(out)
    val path = FeatureFormat.expand(Seq(out), new FgbFormat).head
    val box = Map("bbox" -> "-1,-1,50,50")
    assert(new FgbFormat().planSplits(path, GdalOptions.from(box)) !== Seq(SplitSpec(path, 0L, -1L)),
      "the file must carry an index")
    assertSame(new FgbFormat, Seq(path), Seq(box, box ++ Map("offset" -> "3")))
    val boxed = spark.read.format("flatgeobuf").options(box).load(path).schema
    assert(boxed.fieldNames.toSeq === Seq("near", "geometry"))
    assert(spark.read.format("flatgeobuf").load(path).schema.fieldNames.toSeq ===
      Seq("near", "far", "geometry"))
  }

  test("shapefile and flatgeobuf: a column filled only in the features offset skips is dropped") {
    val fields = Seq(("first", 'C', 4, 0), ("n", 'N', 4, 0))
    val rows = (0 until 5).map(r => (false, Seq(if (r == 0) "x" else "", s"$r")))
    val (shp, shx) = shpPoints(rows.indices.map(_.toDouble))
    file("first.dbf", dbf(fields, rows))
    file("first.shx", shx)
    val shpPath = file("first.shp", shp)
    val cols = Seq(FgbCodec.FgbColumn("first", FgbCodec.CtString), FgbCodec.FgbColumn("n", FgbCodec.CtInt))
    val out = new java.io.ByteArrayOutputStream()
    out.write(FgbCodec.Magic)
    out.write(FgbCodec.writeHeader("t", FgbCodec.GtPoint, cols, 5L))
    for (r <- 0 until 5)
      out.write(FgbCodec.writeFeature(GeomCodec.fromWkt(s"POINT ($r $r)"), cols,
        Seq(if (r == 0) "x" else null, Int.box(r))))
    val fgbPath = file("first.fgb", out.toByteArray)
    for ((format, path) <- Seq((new ShapefileFormat, shpPath), (new FgbFormat, fgbPath))) {
      val s = assertSame(format, Seq(path), Seq(Map("offset" -> "1", "limit" -> "2")))
      assert(s.fieldNames.toSeq === Seq("first", "n", "geometry"))
      val skipped = typePass(format, Seq(path), GdalOptions.from(Map("offset" -> "1")))
      assert(skipped.fieldNames.toSeq === Seq("n", "geometry"))
    }
  }

  // ------------------------------------------------ GeoPackage, SpatiaLite

  private def typedFrame = {
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("s", StringType), StructField("b", BooleanType),
      StructField("t", DateType), StructField("ghost", StringType), StructField("late", StringType),
      StructField("geometry", BinaryType)))
    val rows = (0 until 20).map { r =>
      Row(if (r == 0) null else r, r.toLong * 1000000000L, if (r % 2 == 0) null else r + 0.5,
        s"s$r", r % 3 == 0, java.sql.Date.valueOf(s"2023-01-${r + 1}"), null,
        if (r >= 17) "l" else null, GeomCodec.toWkb(GeomCodec.fromWkt(s"POINT ($r $r)")))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  test("gpkg and spatialite: serial types match the full parse on written layers") {
    for ((fmt, format, ext) <- Seq(("gpkg", new GpkgFormat, ".gpkg"),
        ("spatialite", new SpatiaLiteFormat, ".sqlite"))) {
      val out = new File(dir, s"typed_$fmt").getAbsolutePath
      typedFrame.write.format(fmt).mode("overwrite").save(out)
      val path = FeatureFormat.expand(Seq(out), format).head
      val s = assertSame(format, Seq(path))
      assert(!s.fieldNames.contains("ghost") && s.fieldNames.contains("late"), fmt)
      assert(spark.read.format(fmt).load(path).schema === s, fmt)
    }
  }

  test("gpkg and spatialite: mixed storage classes, short records and spilled headers") {
    val w = new SqliteWriter(pageSize = 512)
    val blob = Array.tabulate[Byte](700)(_.toByte) // overflows a 512-byte page
    val mixed = w.buildTableBtree((1 to 20).map { r =>
      val a: Any = r % 5 match {
        case 0 => r.toLong; case 1 => r + 0.5; case 2 => s"t$r"; case 3 => null; case _ => blob
      }
      val rest: Seq[Any] = if (r == 7) Nil else Seq(if (r >= 18) "late" else null, Array[Byte](1, 2))
      (r.toLong, w.encodeRecord(Seq(null, a) ++ rest))
    })
    // 25 strings of 60 bytes: a record header longer than the page keeps locally
    val wideCols = (0 until 25).map(c => s"c$c")
    val wide = w.buildTableBtree((1 to 3).map { r =>
      (r.toLong, w.encodeRecord(wideCols.map(c => if (r == 2 && c == "c3") null else s"$c-$r".padTo(60, 'x'))))
    })
    val path = file("mixed.sqlite", w.finish(Seq(
      ("mixed", "mixed", mixed, "CREATE TABLE mixed (fid INTEGER PRIMARY KEY, a, late TEXT, geom BLOB)"),
      ("wide", "wide", wide, s"CREATE TABLE wide (${wideCols.mkString(", ")})"))))
    for (format <- Seq(new GpkgFormat, new SpatiaLiteFormat)) {
      val s = assertSame(format, Seq(path), Seq(Map("layerIndex" -> "1")))
      assert(s.fieldNames.toSeq === Seq("fid", "a", "late", "geom", "geometry"))
      assert(s("a").dataType === StringType && s("geom").dataType === BinaryType)
      val wideSchema = typePass(format, Seq(path), GdalOptions.from(Map("layerName" -> "wide")))
      assert(wideSchema.fieldNames.toSeq === wideCols :+ "geometry")
    }
  }

  // ---------------------------------------------------------------- CSV

  test("csvgeo: emptiness-only types match the full parse, with and without autodetect") {
    val body = (0 until 20).map { r =>
      val n = r % 4 match { case 0 => s"$r"; case 1 => s"$r.5"; case 2 => "x"; case _ => "5000000000" }
      val q = r % 3 match { case 0 => "\"a,b\""; case 1 => "\"say \"\"hi\"\"\""; case _ => "\"\"" }
      val late = if (r >= 17) "l" else ""
      if (r == 5) s"$r,e$r" // short row: the missing cells are null
      else s"$r,e$r,POINT ($r $r),$n,,$q,$late,\"\""
    }
    val wkt = text("pts.csv", ("id,name,wkt,n,blank,q,late,quoted_empty" +: body.patch(9, Seq(""), 0)).mkString("\n"))
    val lonLat = text("ll.csv", ("name,lon,lat,quoted" +:
      (0 until 20).map(r => s"p$r,$r.5,${r + 1}.25,${if (r == 4) "\"\"" else "\"v,w\""}")).mkString("\r\n"))
    for (p <- Seq(wkt, lonLat)) {
      val s = assertSame(new CsvGeoFormat, Seq(p), Seq(Map("autodetectTypes" -> "true"),
        Map("autodetectTypes" -> "true", "inferLimit" -> "2")))
      assert(spark.read.format("csvgeo").load(p).schema === s)
    }
    val plain = typePass(new CsvGeoFormat, Seq(wkt), GdalOptions.from(Map.empty))
    assert(plain.fieldNames.toSeq === Seq("id", "name", "n", "q", "late", "geometry"))
    assert(plain.forall(f => f.name == "geometry" || f.dataType == StringType))
    val typed = typePass(new CsvGeoFormat, Seq(wkt), GdalOptions.from(Map("autodetectTypes" -> "true")))
    assert(typed("id").dataType === LongType && typed("n").dataType === StringType)
  }

  // ------------------------------------------------------ load-time window

  test("maxFeatures still fails at load on the type pass") {
    val shp = shapefile("capped")
    val geojson = text("capped.geojson",
      s"""{"type":"FeatureCollection","features":[${geoJsonFeatures.mkString(",")}]}""")
    for ((fmt, path) <- Seq(("shapefile", shp), ("geojson", geojson))) {
      intercept[GraftError.FeatureLimitReached](
        spark.read.format(fmt).option("maxFeatures", "5").load(path))
      assert(spark.read.format(fmt).option("maxFeatures", "20").load(path).schema.nonEmpty)
    }
  }
}
