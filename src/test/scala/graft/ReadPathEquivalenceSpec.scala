package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, PrecisionModel}
import org.scalatest.funsuite.AnyFunSuite

import graft.geom.GeomCodec
import graft.sources._
import graft.sources.csvgeo.CsvGeoFormat
import graft.sources.geojson.{GeoJsonFormat, GeoJsonSeqFormat}
import graft.sources.gpkg.{GpkgFormat, GpkgGeom}
import graft.sources.shapefile.ShapefileFormat
import graft.sources.spatialite.{SpatiaLiteFormat, SpatiaLiteGeom, SqliteWriter}

/** The token-level, array-backed readers must give exactly the features
  * (fid, geometry bytes, props with their value classes, in order) and the
  * errors of the straightforward decode kept in [[TreeReaders]], under
  * every prefix of the stream; the name-slot memo must give the plain
  * lookups' answers; and the WKT point path must give JTS's bytes. */
class ReadPathEquivalenceSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = TempDirs.untilExit("graft_read_eq_")

  private def file(name: String, bytes: Array[Byte]): String = {
    val f = new File(dir, name)
    Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }
  private def text(name: String, s: String): String = file(name, s.getBytes(StandardCharsets.UTF_8))

  /** A feature with its bytes and every value's class spelled out (`==`
    * on boxed numbers would take 1 for 1L). */
  private def norm(f: RawFeature): (Long, Option[Seq[Byte]], Seq[(String, Any)]) =
    (f.fid, Option(f.geomWkb).map(_.toSeq), f.props.map { case (n, v) => (n, value(v)) })
  private def value(v: Any): Any = v match {
    case null => null
    case b: Array[Byte] => ("bytes", b.toSeq)
    case s: Seq[_] => ("list", s.map(value))
    case o => (o.getClass.getName, o)
  }

  /** The first `n` features, or the class of the error on the way. */
  private def take(it: Iterator[RawFeature], n: Int): Either[String, Seq[Any]] =
    Try(it.take(n).map(norm).toList) match {
      case Success(fs) => Right(fs)
      case Failure(e) => Left(e.getClass.getName)
    }

  /** Both readers agree on every prefix of the stream, the whole one
    * included; returns the reader's whole stream. */
  private def assertSame(open: () => Iterator[RawFeature] with AutoCloseable,
      oracle: () => Iterator[RawFeature], what: String): Either[String, Seq[Any]] = {
    def run(mk: () => Iterator[RawFeature], n: Int) = Try(mk()) match {
      case Success(it) =>
        try take(it, n) finally it match { case c: AutoCloseable => c.close(); case _ => () }
      case Failure(e) => Left(e.getClass.getName)
    }
    val all = run(oracle, Int.MaxValue)
    val len = all.fold(_ => 0, _.length)
    for (n <- (0 to len + 1) :+ Int.MaxValue)
      assert(run(open, n) === run(oracle, n), s"$what, first $n")
    run(open, Int.MaxValue)
  }

  private val noOpts = GdalOptions.from(Map.empty)

  // ------------------------------------------------------------- GeoJSON

  private val point = """{"type":"Point","coordinates":[1.5,-2.5]}"""
  private val line = """{"type":"LineString","coordinates":[[0,0],[1e2,2.25,3]]}"""

  /** Feature objects covering the edge cases, one per line, no newlines. */
  private val features: Seq[String] = Seq(
    s"""{"type":"Feature","id":1,"geometry":$point,"properties":{"a":1,"b":"x","c":true}}""",
    // duplicate keys: in properties, and the id/geometry/properties members
    s"""{"type":"Feature","id":2,"geometry":$point,"properties":{"a":1,"b":"x","a":"again","c":null,"b":false}}""",
    s"""{"id":"s","id":3,"geometry":null,"geometry":$line,"properties":{"z":1},"properties":{"a":2}}""",
    s"""{"id":4,"id":"four","properties":{"a":1},"properties":null,"geometry":$point}""",
    // nested objects and arrays
    s"""{"id":5,"geometry":$point,"properties":{"o":{"k":[1,{"z":null}],"k":2.50,"s":"é"},"arr":[1,2,null],"aa":[[1,2],["x"],[]],"ao":[{"a":1},{"b":[true]}],"eo":{},"el":[]}}""",
    // ints beyond Int and Long range, floats, exponents
    """{"id":6,"geometry":null,"properties":{"i1":2147483647,"i2":2147483648,"i3":-2147483649,"l1":9223372036854775807,"l2":9223372036854775808,"l3":-9223372036854775809,"big":123456789012345678901234567890,"f":-0.0,"e":1e400,"g":2.5E-3,"h":10}}""",
    // ids: string, float, out-of-range float, big int, null, object, missing
    s"""{"id":"f7","geometry":$point,"properties":{"a":7}}""",
    s"""{"id":8.9,"geometry":$point,"properties":{"a":8}}""",
    s"""{"id":1e30,"geometry":$point,"properties":{"a":9}}""",
    s"""{"id":-9.2e18,"geometry":$point,"properties":{"a":10}}""",
    s"""{"id":99999999999999999999,"geometry":$point,"properties":{"a":11}}""",
    s"""{"id":null,"geometry":$point,"properties":{"a":12}}""",
    s"""{"id":{"x":1},"id":[1],"geometry":$point,"properties":{"a":13}}""",
    s"""{"geometry":$point,"properties":{"a":14}}""",
    // null or missing geometry and properties, non-object properties
    """{"id":15,"geometry":null,"properties":null}""",
    """{"id":16}""",
    s"""{"id":17,"geometry":$point,"properties":[1,2]}""",
    s"""{"id":18,"geometry":$point,"properties":"p","bbox":[0,0,1,1],"extra":{"a":[1,{"b":2}]}}""",
    // the same keys reordered, a key missing, one more key
    s"""{"id":19,"geometry":$point,"properties":{"c":true,"b":"y","a":3}}""",
    s"""{"id":20,"geometry":$point,"properties":{"a":4,"c":false}}""",
    s"""{"id":21,"geometry":$point,"properties":{"a":5,"b":"z","c":true,"d":"new"}}""",
    // points the direct path writes: with Z, with text and integer ordinates
    """{"id":22,"geometry":{"type":"Point","coordinates":[1,2,3]},"properties":{"a":6}}""",
    """{"id":23,"geometry":{"coordinates":["1.5",-0.0],"type":"Point"},"properties":{"a":7}}""")

  test("geojson: token-level features match the tree decode, every prefix") {
    val fc = text("fc.geojson",
      s"""{"type":"FeatureCollection","name":"x","features":[${features.mkString(",\n")}]}""")
    val bare = text("bare.geojson", s"[${features.take(6).mkString(",")}]")
    val empty = text("empty.geojson", """{"type":"FeatureCollection","features":[]}""")
    val none = text("none.geojson", """{"type":"FeatureCollection"}""")
    // a bad geometry, then a syntax error one feature later: the error
    // surfaces at the same feature in both readers (tokens are read one ahead)
    val badGeom = text("badgeom.geojson", s"""[${features(0)},{"id":1,"geometry":{"type":"Nope"}},${features(1)}]""")
    val badSyntax = text("badsyntax.geojson", s"""[${features(0)},${features(1)},{"id":2,"properties":{"a":}}]""")
    val truncated = text("truncated.geojson", s"""[${features(0)},{"id":1,"properties":{"a":1""")
    val format = new GeoJsonFormat
    for (p <- Seq(fc, bare, empty, none, badGeom, badSyntax, truncated))
      assertSame(() => format.open(p, noOpts), () => TreeReaders.geoJson(p), p)
    val all = assertSame(() => format.open(fc, noOpts), () => TreeReaders.geoJson(fc), fc)
    assert(all.map(_.length) === Right(features.length))
    assert(assertSame(() => format.open(badGeom, noOpts), () => TreeReaders.geoJson(badGeom), badGeom).isLeft)
  }

  test("geojsonseq: byte-level lines match readLine + readTree, every prefix") {
    val lf = text("a.geojsonl", features.mkString("\n"))
    // RS-prefixed records, CRLF and lone CR, blank and whitespace lines,
    // an RS inside a line, trailing tokens, a final newline
    val mixed = text("b.geojsonl", Seq(
      "\u001e" + features(0), "", "   \t", features(1) + "\r\n" + features(2), "\u001e\u001e",
      features(3) + " trailing tokens ]]", features(4) + "{\"id\":0}", "  \u001e " + features(5) + " \u001e",
      "{\"id\":40,\u001e\"properties\":{\"a\":1}}", features(6) + "\r" + features(7) + "\r",
      features(8)).mkString("\n") + "\n")
    // valid multi-byte UTF-8, a BOM, malformed UTF-8 and a NUL (each in
    // a file of its own, as an error ends a file) go the string route,
    // which must give the same features or error
    val utf8 = Seq(
      "{\"id\":1,\"properties\":{\"ü\":\"日本 😀\"}}".getBytes(StandardCharsets.UTF_8),
      Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ features(9).getBytes(StandardCharsets.UTF_8),
      "{\"id\":3,\"properties\":{\"bad\":\"".getBytes(StandardCharsets.UTF_8) ++
        Array(0xC0, 0x80, 0xED, 0xA0, 0x80, 0xE2, 0x82).map(_.toByte) ++ "\"}}".getBytes(StandardCharsets.UTF_8),
      "{\"id\":4,\"properties\":{\"nul\":\"\u0000\"}}".getBytes(StandardCharsets.UTF_8))
      .zipWithIndex.map { case (bytes, i) =>
        file(s"c$i.geojsonl", features(0).getBytes(StandardCharsets.UTF_8) ++ "\n".getBytes ++ bytes ++
          "\n".getBytes ++ features(1).getBytes(StandardCharsets.UTF_8))
      }
    // a CRLF pair and a multi-byte char across the 64 KiB read buffer
    val pad = "{\"id\":1,\"properties\":{\"p\":\""
    val long = pad + "x" * (65535 - pad.length - 3) + "\"}}"
    val straddle = text("d.geojsonl", long + "\r\n" + features(0) + "\r\n" +
      pad + "é" * 40000 + "\"}}\n" + features(1))
    val blank = text("e.geojsonl", "\n\r\n \u001e \n")
    val badSyntax = text("f.geojsonl", features(0) + "\n{\"id\":1,\"properties\":{\"a\":}}\n" + features(1))
    val badGeom = text("g.geojsonl", features(0) + "\n{\"geometry\":{\"type\":\"Nope\"}}\n" + features(1))
    val format = new GeoJsonSeqFormat
    for (p <- Seq(lf, mixed, straddle, blank, badSyntax, badGeom) ++ utf8)
      assertSame(() => format.open(p, noOpts), () => TreeReaders.geoJsonSeq(p), p)
    assert(assertSame(() => format.open(lf, noOpts), () => TreeReaders.geoJsonSeq(lf), lf)
      .map(_.length) === Right(features.length))
    assert(assertSame(() => format.open(mixed, noOpts), () => TreeReaders.geoJsonSeq(mixed), mixed)
      .map(_.length) === Right(10))
    val read = format.open(straddle, noOpts)
    try {
      val got = read.toList
      assert(got.length === 4)
      assert(got(0).props.head._2 === "x" * (65535 - pad.length - 3))
      assert(got(2).props.head._2 === "é" * 40000)
    } finally read.close()
  }

  test("geojsonseq: a line that is not a JSON object fails the scan and the type pass alike") {
    val p = text("h.geojsonl", features(0) + "\n[1,2]\n")
    val format = new GeoJsonSeqFormat
    for (open <- Seq(() => format.open(p, noOpts).toList, () => format.openTypes(p, noOpts).toList)) {
      val e = intercept[IllegalArgumentException](open())
      assert(e.getMessage.endsWith("not a GeoJSON Feature object: [1,2]"))
    }
    // the tree decode failed with a ClassCastException here
    intercept[ClassCastException](TreeReaders.geoJsonSeq(p).toList)
  }

  test("geojson and geojsonseq: the type pass still matches the tree decode's schema") {
    val fc = text("types.geojson", s"""[${features.mkString(",")}]""")
    val seq = text("types.geojsonl", features.mkString("\n"))
    for ((format, p, oracle) <- Seq(
        (new GeoJsonFormat, fc, TreeReaders.geoJson(fc)),
        (new GeoJsonSeqFormat, seq, TreeReaders.geoJsonSeq(seq)))) {
      val it = format.openTypes(p, noOpts)
      try assert(SchemaInference.inferTypes(it, noOpts) === SchemaInference.infer(oracle, noOpts), p)
      finally it.close()
    }
  }

  // ----------------------------------------------------------- name slots

  /** Rows over a few names: reordered, repeated, missing, extra, and
    * sometimes under an equal but distinct string. */
  private def rows(seed: Int): Seq[IndexedSeq[(String, Int)]] = {
    val rnd = new Random(seed)
    val names = IndexedSeq("a", "b", "c", "d", "e", "f")
    val stable = names.map(n => (n, 0))
    (0 until 400).map { r =>
      if (rnd.nextInt(3) > 0) stable.map { case (n, _) => (n, r) } // the common, stable case
      else IndexedSeq.fill(rnd.nextInt(9)) {
        val n = names(rnd.nextInt(names.length))
        (if (rnd.nextBoolean()) new String(n) else n, rnd.nextInt(100))
      }
    }
  }

  test("inferTypes: slots by position give the map's first-seen order and widening") {
    def widen(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (NullType, y) => y
      case (x, NullType) => x
      case (IntegerType, LongType) | (LongType, IntegerType) => LongType
      case (IntegerType | LongType, DoubleType) | (DoubleType, IntegerType | LongType) => DoubleType
      case _ => StringType
    }
    def naive(features: Seq[IndexedSeq[(String, DataType)]]): Seq[(String, DataType)] = {
      val order = scala.collection.mutable.ArrayBuffer[String]()
      val types = scala.collection.mutable.Map[String, DataType]()
      for (f <- features; (n, t) <- f) {
        if (!types.contains(n)) { order += n; types(n) = t }
        else types(n) = widen(types(n), t)
      }
      order.filter(types(_) != NullType).map(n => (n, types(n))).toSeq
    }
    val palette = IndexedSeq(NullType, IntegerType, LongType, DoubleType, StringType)
    for (seed <- 1 to 5) {
      val typed = rows(seed).map(_.map { case (n, v) => (n, palette(v % palette.length)) })
      val schema = SchemaInference.inferTypes(typed.iterator, noOpts)
      assert(schema.fields.dropRight(1).map(f => (f.name, f.dataType)).toSeq === naive(typed), s"seed $seed")
    }
  }

  // -------------------------------------------------------------- convert

  test("RowConverter: conversions chosen per field match the per-cell match") {
    val values: Seq[Any] = Seq(null, 7, -7L, 5000000000L, 2.5, true, "s", Array[Byte](1, 2),
      java.sql.Date.valueOf("1999-12-31"), java.sql.Timestamp.valueOf("2001-02-03 04:05:06.7"),
      Vector(1, null, 3), Vector("a", null), Vector(Vector(1L), Vector()), Vector(1.5, 2))
    val types: Seq[DataType] = Seq(IntegerType, LongType, DoubleType, BooleanType, StringType,
      BinaryType, DateType, TimestampType, ArrayType(IntegerType), ArrayType(LongType),
      ArrayType(DoubleType), ArrayType(StringType), ArrayType(ArrayType(LongType)), NullType)
    def cell(v: Any): Any = v match {
      case b: Array[Byte] => ("bytes", b.toSeq)
      case a: org.apache.spark.sql.catalyst.util.ArrayData => ("array", a.array.toSeq.map(cell))
      case null => null
      case o => (o.getClass.getName, o)
    }
    val wkb = GeomCodec.point(1, 2)
    for (geometryFormat <- Seq("wkb", "wkt", "geojson")) {
      val opts = GdalOptions.from(Map("fidColumnName" -> "fid", "geometryFormat" -> geometryFormat))
      val fields = types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) }
      val schema = StructType(StructField("fid", LongType) +: StructField("fid_original", StringType) +:
        fields :+ StructField("geometry", if (geometryFormat == "wkb") BinaryType else StringType))
      val conv = new RowConverter(schema, opts)
      for (v <- values; geom <- Seq(wkb, null)) {
        // every column holds `v`; the FID prop is renamed, one column is absent
        val props = ("fid", "own") +: types.indices.dropRight(1).map(i => (s"c$i", v))
        val row = conv.convert(RawFeature(42L, geom, props))
        val want = Seq(42L, UTF8String.fromString("own")) ++
          types.dropRight(1).map(TreeReaders.toCatalyst(v, _)) ++ Seq(null,
            if (geom == null) null else geometryFormat match {
              case "wkb" => geom
              case "wkt" => UTF8String.fromString(GeomCodec.wkbToWkt(geom))
              case _ => UTF8String.fromString(GeomCodec.wkbToGeoJson(geom))
            })
        assert(row.toSeq(schema).map(cell) === want.map(cell), s"$v, $geometryFormat")
      }
    }
  }

  // --------------------------------------------------------------- SQLite

  test("gpkg and spatialite: array-backed rows match the column-list decode") {
    val g = new GeometryFactory(new PrecisionModel, 4326)
    for ((format, blob, gcTable) <- Seq(
        (new GpkgFormat, (x: Double) => GpkgGeom.fromJts(g.createPoint(new Coordinate(x, -x)), 4326),
          "gpkg_geometry_columns"),
        (new SpatiaLiteFormat, (x: Double) => SpatiaLiteGeom.fromJts(g.createPoint(new Coordinate(x, -x)), 4326),
          "geometry_columns"))) {
      val w = new SqliteWriter(pageSize = 512)
      // IPK first, geometry in the middle, a blob prop, and records that
      // stop before the last columns or before the geometry itself
      val data = w.buildTableBtree((1 to 40).map { r =>
        val full = Seq(null, s"n$r", blob(r), if (r % 4 == 0) null else r * 1.5, Array[Byte](r.toByte), r.toLong)
        val cut = r % 7 match { case 0 => 2; case 1 => 4; case _ => full.length }
        (r.toLong, w.encodeRecord(full.take(cut)))
      })
      // a second layer names a geometry column it lacks: all its columns are props
      val gc = w.buildTableBtree(Seq(
        (1L, w.encodeRecord(Seq("t", "geom"))), (2L, w.encodeRecord(Seq("u", "nope")))))
      val sql = "CREATE TABLE t (fid INTEGER PRIMARY KEY, name TEXT, geom BLOB, x REAL, raw BLOB, n INTEGER)"
      val path = file(s"rows${format.extensions.head}", w.finish(Seq(
        ("t", "t", data, sql),
        ("u", "u", data, sql.replace(" t ", " u ")),
        (gcTable, gcTable, gc, s"CREATE TABLE $gcTable (a TEXT, b TEXT)"))))
      val decode: Array[Byte] => Array[Byte] =
        if (format.isInstanceOf[GpkgFormat]) GpkgGeom.toWkb else SpatiaLiteGeom.toWkb
      for ((layer, geomCol) <- Seq(("t", "geom"), ("u", "nope"))) {
        val opts = GdalOptions.from(Map("layerName" -> layer))
        val all = assertSame(() => format.open(path, opts),
          () => TreeReaders.sqliteRows(path, data, sql, Some(geomCol), decode), s"$path $layer")
        assert(all.map(_.length) === Right(40))
      }
    }
  }

  // --------------------------------------------------------------- csvgeo

  test("csvgeo: props resolved once per file match the per-row index filter") {
    val wkt = text("w.csv", Seq(
      "id,name,wkt,n,q",
      "1,a,POINT (1 2),10,\"x,y\"",
      "2,b,,20,\"say \"\"hi\"\"\"",
      "3,c,POINT(3 -4)", // short row
      "",
      "4,d,POINT Z (1 2 3),4.5,",
      "5,e,LINESTRING (0 0, 1 1),5000000000,\"\"",
      "6,f,not wkt,x,q",
      "7",
      "8,g\"h,i\"j,\"\"\"\",\"open,ended",
      "9,\"\",,\"a\"\"\",x\"\"y,",
      " 10 , sp ,POINT (1 1), 1 ,").mkString("\n"))
    val lonLat = text("ll.csv", Seq(
      "name,lon,lat,extra",
      "p,1.5,2.25,\"a,b\"",
      "q,,3,",
      "r,x,1,1",
      "s,-0.0,1e2").mkString("\r\n"))
    val format = new CsvGeoFormat
    for (p <- Seq(wkt, lonLat); o <- Seq(Map.empty[String, String], Map("autodetectTypes" -> "true"))) {
      val opts = GdalOptions.from(o)
      assertSame(() => format.open(p, opts), () => TreeReaders.csvGeo(p, opts), s"$p $o")
    }
  }

  // ------------------------------------------------------------ WKT point

  test("wktToWkb: the direct POINT path gives JTS's bytes, and JTS takes the rest") {
    def jts(s: String) = Try(GeomCodec.toWkb(GeomCodec.fromWkt(s)).toSeq).toEither.left.map(_.getClass.getName)
    def ours(s: String) = Try(GeomCodec.wktToWkb(s).toSeq).toEither.left.map(_.getClass.getName)
    val texts = Seq("POINT (1 2)", "POINT(1 2)", "POINT (-0.0 0.0)", "POINT (-0 +0)", "POINT (1e3 -2.5E-7)",
      "POINT (1E+308 4.9e-324)", "POINT (1e400 2)", "POINT (.5 5.)", "  point\t(\n1.25   2.5\r\n)  ",
      "Point (3 4)", "POINT ( 7 8 )", "POINT Z (1 2 3)", "POINT (1 2 3)", "POINT M (1 2 3)", "POINT EMPTY",
      "POINT (1)", "POINT (1 2", "POINT (1 2) x", "POINT (1 2))", "POINT (1,2)", "POINT (1e 2)", "POINT (. 2)",
      "POINT (- 2)", "POINT (0x10 2)", "POINT (NaN 2)", "POINT (Infinity 2)", "POINT (1d 2)", "POINTZ (1 2)",
      "POINT (1 2) # c", "MULTIPOINT ((1 2))", "LINESTRING (0 0, 1 1)", "", "POINT", "POINT (1 2.5.6)",
      "POINT (123456789012345678901234567890 0.1)", "POINT (0.30000000000000004 1)")
    for (s <- texts) assert(ours(s) === jts(s), s)
    assert(ours("POINT (1 2)").isRight)
    val g = new GeometryFactory(new PrecisionModel, 4326)
    for ((x, y) <- Seq((1.0, 2.0), (-0.0, 0.0), (Double.NaN, 1.0), (Double.MaxValue, Double.MinPositiveValue),
        (Double.NegativeInfinity, 3.0)))
      assert(GeomCodec.point(x, y).toSeq === GeomCodec.toWkb(g.createPoint(new Coordinate(x, y))).toSeq, (x, y))
  }

  // ------------------------------------------------------------ shapefile

  test("shapefile: a .shp.zip read to the end or under limit 1 leaves no extraction dir") {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def extracted(): Set[String] = Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_shp_")).map(_.getName).toSet
    val zip = s"$fixtures/stations_shapefile.shp.zip"
    val before = extracted()
    val df = spark.read.format("shapefile").load(zip)
    assert(df.collect().length > 1)
    assert(df.limit(1).collect().length === 1)
    val format = new ShapefileFormat
    val it = format.open(zip, noOpts)
    it.next()
    it.close()
    val types = format.openTypes(zip, noOpts)
    types.next()
    types.close()
    assert(extracted() -- before === Set.empty)
  }
}
