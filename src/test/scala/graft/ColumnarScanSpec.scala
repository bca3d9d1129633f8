package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.ServiceLoader

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.execution.{ColumnarToRowExec, ProjectExec}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.geom.GeomCodec
import graft.sources._

/** The scan of every format must give the rows the row path gives — the
  * test-scope [[FeaturePartitionReader]] over the format's `open`, with
  * its own bbox test, window and pushed limit — split by split, under
  * column pruning, bbox, offset, limit and maxFeatures, the fid and
  * geometry options and their `_original` renames, and all three
  * geometry formats; a Spark filter over the scan must keep the rows it
  * keeps over the row path's rows; and Spark must plan those scans as
  * `ColumnarToRow` with no `Project`. */
class ColumnarScanSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = TempDirs.untilExit("graft_columnar_")

  private def provider(fmt: String): FeatureSourceProvider =
    ServiceLoader.load(classOf[DataSourceRegister]).asScala
      .collectFirst { case p: FeatureSourceProvider if p.shortName == fmt => p }.get

  private def norm(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: UTF8String, _) => s.toString
    case (b: Array[Byte], _) => ("bytes", b.toSeq)
    case (d: Double, _) => ("double", java.lang.Double.doubleToLongBits(d))
    case (a: ArrayData, ArrayType(et, _)) => ("array", (0 until a.numElements).map(i =>
      if (a.isNullAt(i)) null else norm(a.get(i, et), et)))
    case (o, _) => o
  }
  private def row(r: InternalRow, schema: StructType): Seq[Any] =
    schema.fields.indices.map(i => if (r.isNullAt(i)) null else norm(r.get(i, schema(i).dataType), schema(i).dataType))

  /** Each path's rows, split by split, or the class of its error; and the
    * batches the columnar path returned. */
  private def scan(fmt: String, path: String, o: Map[String, String], columns: Option[Seq[String]] = None,
      limit: Option[Int] = None): (Any, Any, Int) = {
    val options = new CaseInsensitiveStringMap((o + ("path" -> path)).asJava)
    val p = provider(fmt)
    // the schema of a load without maxFeatures, so the scan is what meets it
    val full = p.inferSchema(new CaseInsensitiveStringMap((o - "maxFeatures" + ("path" -> path)).asJava))
    val table = p.getTable(full, Array.empty, options.asCaseSensitiveMap).asInstanceOf[SupportsRead]
    val builder = table.newScanBuilder(options).asInstanceOf[FeatureScanBuilder]
    columns.foreach(cs => builder.pruneColumns(StructType(full.fields.filter(f => cs.contains(f.name)))))
    limit.foreach(builder.pushLimit)
    val s = builder.build()
    val schema = s.readSchema()
    val batch = s.toBatch
    val factory = batch.createReaderFactory()
    val parts = batch.planInputPartitions().toSeq
    assert(parts.forall(factory.supportColumnarReads), s"$fmt is not columnar")
    val opts = GdalOptions(options)
    var batches = 0
    def drain[T](open: InputPartition => PartitionReader[T])(rows: T => Iterator[Seq[Any]]) =
      Try(parts.map { part =>
        val r = open(part)
        try { val out = Seq.newBuilder[Seq[Any]]; while (r.next()) out ++= rows(r.get()); out.result() }
        finally r.close()
      }) match { case Success(v) => Right(v); case Failure(e) => Left(e.getClass.getName) }
    val rowPath = drain(part => new FeaturePartitionReader(part.asInstanceOf[FeaturePartition].split,
      schema, opts, p.format, limit))(r => Iterator(row(r, schema)))
    val colPath = drain(factory.createColumnarReader) { b =>
      batches += 1
      b.rowIterator().asScala.map(row(_, schema)).toList.iterator
    }
    (rowPath, colPath, batches)
  }

  private def assertSame(fmt: String, path: String, o: Map[String, String], columns: Option[Seq[String]] = None,
      limit: Option[Int] = None): (Any, Int) = {
    val (rows, cols, batches) = scan(fmt, path, o, columns, limit)
    if (cols != rows) {
      val diff = (rows, cols) match {
        case (Right(r: Seq[Seq[Any]] @unchecked), Right(c: Seq[Seq[Any]] @unchecked)) =>
          val (a, b) = (r.flatten, c.flatten)
          val i = a.indices.find(i => i >= b.length || a(i) != b(i)).getOrElse(a.length)
          s"${a.length} vs ${b.length} rows; first difference at row $i: " +
            s"${a.lift(i).toString.take(400)} vs ${b.lift(i).toString.take(400)}"
        case _ => s"${rows.toString.take(400)} vs ${cols.toString.take(400)}"
      }
      fail(s"$fmt $path $o columns=$columns limit=$limit: $diff")
    }
    (rows, batches)
  }

  // ------------------------------------------------------------- inputs

  private def text(name: String, s: String): String = {
    val f = new File(dir, name)
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
    f.getAbsolutePath
  }

  private def write(df: org.apache.spark.sql.DataFrame, fmt: String, name: String): String = {
    val out = new File(dir, name)
    df.coalesce(1).write.format(fmt).mode("overwrite").save(out.getPath)
    val ext = Map("geojson" -> ".geojson", "geojsonseq" -> ".geojsonl", "shapefile" -> ".shp",
      "flatgeobuf" -> ".fgb", "gpkg" -> ".gpkg", "spatialite" -> ".sqlite", "csvgeo" -> ".csv",
      "kml" -> ".kml", "gpx" -> ".gpx", "gml" -> ".gml")(fmt)
    out.listFiles().filter(_.getName.endsWith(ext)).head.getAbsolutePath
  }

  private val formats = Seq("geojson", "geojsonseq", "shapefile", "flatgeobuf", "gpkg", "spatialite", "csvgeo")

  /** 5,000 typed points with nulls and a late column: more than one batch. */
  private lazy val big = {
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("s", StringType), StructField("b", BooleanType),
      StructField("t", DateType), StructField("late", StringType), StructField("geometry", BinaryType)))
    val rnd = new scala.util.Random(7)
    val rows = (0 until 5000).map { i =>
      def v[T](x: T): Any = if (i > 0 && rnd.nextInt(20) == 0) null else x
      Row(v(rnd.nextInt(1000) - 500), v(3000000000L + i), v(rnd.nextInt(100000) / 1000.0),
        v(s"w${rnd.nextInt(50)} é"), v(rnd.nextBoolean()), v(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rnd.nextInt(20000)))),
        if (i > 4500) s"late$i" else null,
        GeomCodec.point(rnd.nextInt(2000) / 100.0, rnd.nextInt(1000) / 100.0))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private lazy val stations = spark.read.format("shapefile").load(new File(fixtures, "stations.shp").getPath)

  /** The stations as GPX: each a waypoint (most with an elevation), in
    * routes of 20 points and in a track of 30-point segments. */
  private lazy val stationsGpx = {
    def esc(t: String) = t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val pts = stations.collect().toSeq.map(r =>
      (GeomCodec.fromWkb(r.getAs[Array[Byte]]("geometry")).getCoordinate, esc(r.getAs[String]("name"))))
    def pt(tag: String, i: Int) = {
      val (c, name) = pts(i)
      s"""<$tag lat="${c.y}" lon="${c.x}">""" + (if (i % 5 == 0) "" else s"<ele>${i * 1.5}</ele>") +
        s"<name>$name</name></$tag>"
    }
    text("stations_layers.gpx", """<?xml version="1.0" encoding="UTF-8"?>
      |<gpx version="1.1" creator="graft" xmlns="http://www.topografix.com/GPX/1/1">
      |""".stripMargin +
      pts.indices.map(pt("wpt", _)).mkString("\n") +
      pts.indices.grouped(20).map(g => s"<rte><name>r${g.head}</name>" + g.map(pt("rtept", _)).mkString + "</rte>")
        .mkString("\n", "\n", "\n") +
      "<trk><name>t</name>" + pts.indices.grouped(30).map(g => "<trkseg>" + g.map(pt("trkpt", _)).mkString + "</trkseg>")
        .mkString + "</trk>\n</gpx>\n")
  }

  /** (format, path, base options) of every input: the fixtures, the
    * fixture frames written in the formats without a fixture, the big
    * frame in all seven hot formats, GeoJSON and CSV with mixed types and
    * reserved names, the stations in KML, GML and three GPX layers, and a
    * KML whose placemark repeats a `SimpleData` name. */
  private lazy val inputs: Seq[(String, String, Map[String, String])] = {
    def fx(n: String) = new File(fixtures, n).getAbsolutePath
    val states = spark.read.format("geojson").load(fx("us_states.feature_collection.implicit_4326.json"))
    Seq("geojson" -> fx("us_states.feature_collection.implicit_4326.json"),
      "geojson" -> fx("global_large_lakes.feature_collection.implicit_4326.json"),
      "shapefile" -> fx("stations.shp"), "shapefile" -> fx("stations_shapefile.shp.zip"),
      "spatialite" -> fx("test_spatialite.sqlite"), "csvgeo" -> fx("lat_lon_countries.csv")) ++
      Seq("gpkg", "geojsonseq", "flatgeobuf").flatMap(f =>
        Seq(f -> write(stations, f, s"stations_$f"), f -> write(states, f, s"states_$f"))) ++
      formats.map(f => f -> write(big, f, s"big_$f")) ++
      Seq("geojson" -> text("mixed.geojson", """{"type":"FeatureCollection","features":[
        |{"type":"Feature","id":7,"geometry":{"type":"Point","coordinates":[1,2]},"properties":{"a":1,"b":1,"c":1,"geometry":"g","fid":5,"lst":[1,2],"o":{"k":[1]}}},
        |{"type":"Feature","geometry":null,"properties":{"a":"x","b":2.5,"c":3000000000,"lst":[1.5,null],"dup":1,"dup":"two"}},
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[3,4]},"properties":{"a":true,"lst":null},"properties":{"c":-1,"geometry":null}},
        |{"type":"Feature","id":"s","geometry":{"type":"LineString","coordinates":[[0,0],[5,5]]},"properties":{"a":2.5,"b":null,"lst":["q"],"nested":[[1],[2,3]]}}
        |]}""".stripMargin),
        "csvgeo" -> text("reserved.csv", "fid,name,lon,lat,n\n1,a,1.5,2.5,10\n2,\"b,\"\"c\"\"\",x,3,\n\n3,,0,0,1e3\n")) ++
      Seq("kml", "gml", "gpx").map(f => f -> write(stations, f, s"stations_$f")) ++
      Seq("kml" -> text("repeated.kml", """<?xml version="1.0" encoding="UTF-8"?>
        |<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
        |<Placemark><name>one</name><ExtendedData><SchemaData>
        |  <SimpleData name="a">first</SimpleData><SimpleData name="b">7</SimpleData><SimpleData name="a">second</SimpleData>
        |</SchemaData></ExtendedData><Point><coordinates>1,2</coordinates></Point></Placemark>
        |<Placemark><name>two</name><ExtendedData><SchemaData>
        |  <SimpleData name="b">8</SimpleData><SimpleData name="a">third</SimpleData><SimpleData name="name">shadow</SimpleData>
        |</SchemaData></ExtendedData><Point><coordinates>3,4</coordinates></Point></Placemark>
        |<Placemark><name>three</name><LineString><coordinates>0,0 5,5</coordinates></LineString></Placemark>
        |</Document></kml>""".stripMargin))
  }.map { case (f, p) => (f, p, Map.empty[String, String]) } ++
    Seq("waypoints", "routes", "track_points").map(l => ("gpx", stationsGpx, Map("layerName" -> l)))

  /** A bbox over the middle of a frame's geometry extent. */
  private def middle(fmt: String, path: String, base: Map[String, String]): String = {
    val env = new org.locationtech.jts.geom.Envelope()
    val it = provider(fmt).format
    FeatureFormat.expand(Seq(path), it).foreach { f =>
      val fs = it.open(f, GdalOptions.from(base))
      try fs.foreach(x => if (x.geomWkb != null) env.expandToInclude(GeomCodec.fromWkb(x.geomWkb).getEnvelopeInternal))
      finally fs.close()
    }
    val (w, h) = (env.getWidth / 4, env.getHeight / 4)
    s"${env.getMinX + w},${env.getMinY + h},${env.getMaxX - w},${env.getMaxY - h}"
  }

  private val variants: Seq[Map[String, String]] = Seq(
    Map.empty,
    Map("offset" -> "2", "limit" -> "5"),
    Map("offset" -> "3"),
    Map("limit" -> "0"),
    Map("maxFeatures" -> "3"),
    Map("maxFeatures" -> "100000"),
    Map("fidColumnName" -> "fid"),
    Map("fidColumnName" -> "fid", "geometryColumnName" -> "name"),
    Map("geometryFormat" -> "wkt"),
    Map("geometryFormat" -> "geojson", "geometryColumnName" -> "geom"),
    Map("splitRecords" -> "1000"))

  test("every input reads the same rows on both paths under every option variant") {
    for ((fmt, path, base) <- inputs) {
      val bbox = middle(fmt, path, base)
      val extra = Seq(Map("bbox" -> bbox), Map("bbox" -> bbox, "offset" -> "1", "limit" -> "3"),
        Map("bbox" -> bbox, "geometryFormat" -> "wkt")) ++
        (if (fmt == "csvgeo") Seq(Map("autodetectTypes" -> "true"), Map("autodetectTypes" -> "true", "fidColumnName" -> "fid")) else Nil)
      for (o <- variants ++ extra) assertSame(fmt, path, base ++ o)
    }
  }

  private val pushdownVariants = Seq(Map.empty[String, String], Map("offset" -> "1", "limit" -> "40"),
    Map("fidColumnName" -> "fid", "geometryFormat" -> "wkt"))

  test("column pruning and the pushed limit give the same rows on both paths") {
    for ((fmt, path, base) <- inputs; o0 <- pushdownVariants) {
      val o = base ++ o0
      val names = spark.read.format(fmt).options(o).load(path).schema.fieldNames.toSeq
      for (cs <- Seq(None, Some(names.take(names.length / 2)), Some(Seq.empty), Some(Seq("geometry")),
          Some(names.reverse.take(2))))
        assertSame(fmt, path, o, cs)
      assertSame(fmt, path, o, Some(names.drop(1)), Some(3))
      assertSame(fmt, path, o, None, Some(1))
    }
  }

  /** The row path's rows of a whole load, as a frame Spark filters by itself. */
  private def rowPathFrame(fmt: String, path: String, o: Map[String, String]): DataFrame = {
    val options = new CaseInsensitiveStringMap((o + ("path" -> path)).asJava)
    val p = provider(fmt)
    val full = p.inferSchema(options)
    val scan = p.getTable(full, Array.empty, options.asCaseSensitiveMap).asInstanceOf[SupportsRead]
      .newScanBuilder(options).build()
    val toRow = CatalystTypeConverters.createToScalaConverter(full)
    val rows = scan.toBatch.planInputPartitions().toSeq.flatMap { part =>
      val r = new FeaturePartitionReader(part.asInstanceOf[FeaturePartition].split, full, GdalOptions(options),
        p.format, None)
      try { val out = Seq.newBuilder[Row]; while (r.next()) out += toRow(r.get()).asInstanceOf[Row]; out.result() }
      finally r.close()
    }
    spark.createDataFrame(rows.asJava, full)
  }

  private def normValue(v: Any): Any = v match {
    case b: Array[Byte] => ("bytes", b.toSeq)
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case s: scala.collection.Seq[_] => s.map(normValue)
    case o => o
  }
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map(normValue))

  test("a Spark filter over the scan keeps the rows it keeps over the row path's rows") {
    for ((fmt, path, base) <- inputs; o0 <- pushdownVariants) {
      val o = base ++ o0
      val df = spark.read.format(fmt).options(o).load(path)
      val oracle = rowPathFrame(fmt, path, o)
      val schema = df.schema
      val str = schema.fields.find(f => f.dataType == StringType && f.name != "geometry").map(_.name)
      val num = schema.fields.find(f => Seq(IntegerType, LongType, DoubleType).contains(f.dataType)).map(_.name)
      val filters: Seq[Column] = Seq(
        Seq(col("geometry").isNotNull),
        str.toSeq.map(s => col(s).startsWith("A") || col(s).isNull),
        str.toSeq.map(s => col(s) =!= "x") ++ num.map(n => col(n) > 0),
        num.toSeq.map(n => col(n) <= 10),
        schema.fieldNames.find(_ == "fid").toSeq.map(f => col(f) === 3L)
      ).map(_.reduceOption(_ && _).getOrElse(lit(true)))
      for (f <- filters) assert(rowsOf(df.filter(f)) === rowsOf(oracle.filter(f)), s"$fmt $path $o $f")
      val cols = schema.fieldNames.toSeq.drop(1).map(col)
      assert(rowsOf(df.filter(filters(2)).select(cols: _*).limit(3)) ===
        rowsOf(oracle.filter(filters(2)).select(cols: _*).limit(3)), s"$fmt $path $o")
    }
  }

  test("a split of more than 4096 rows fills several batches; a small split sizes its batch to fit") {
    for (fmt <- formats) {
      val path = inputs.find { case (f, p, _) => f == fmt && p.contains("big_") }.get._2
      val (rows, batches) = assertSame(fmt, path, Map.empty)
      assert(rows.asInstanceOf[Either[String, Seq[Seq[Seq[Any]]]]].map(_.map(_.length).sum) === Right(5000))
      assert(batches >= 2, fmt)
    }
  }

  test("every format plans ColumnarToRow with no Project; Arrow still reads") {
    for ((fmt, path, _) <- inputs.filter(_._2.contains("big_"))) {
      for (df <- Seq(spark.read.format(fmt).load(path), spark.read.format(fmt).load(path).select("s", "geometry"),
          spark.read.format(fmt).load(path).filter("l > 3000004000"))) {
        val plan = df.queryExecution.executedPlan
        assert(plan.collect { case c: ColumnarToRowExec => c }.nonEmpty, s"$fmt\n$plan")
        assert(plan.collect { case p: ProjectExec => p }.isEmpty, s"$fmt\n$plan")
      }
      assert(spark.read.format(fmt).load(path).count() === 5000L)
      assert(spark.read.format(fmt).load(path).filter("l > 3000004000").count() ===
        big.filter("l > 3000004000").count(), fmt)
    }
    for (fmt <- Seq("kml", "gpx", "gml")) {
      val out = new File(dir, s"stations_$fmt").getPath
      stations.coalesce(1).write.format(fmt).mode("overwrite").save(out)
      val df = spark.read.format(fmt).load(out)
      assert(df.count() === stations.count(), fmt)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case c: ColumnarToRowExec => c }.nonEmpty, s"$fmt\n$plan")
      assert(plan.collect { case p: ProjectExec => p }.isEmpty, s"$fmt\n$plan")
    }
    assert(graft.sources.arrow.ArrowRead.fromFile(spark, new File(fixtures, "cities.arrow").getPath).count() === 202L)
  }

  test("KML, GML and the GPX layers read their features; a repeated SimpleData name reads its first value") {
    val n = stations.count()
    def load(fmt: String, path: String, o: Map[String, String] = Map.empty) = spark.read.format(fmt).options(o).load(path)
    for ((fmt, path, base) <- inputs if Seq("kml", "gml", "gpx").contains(fmt) && !path.endsWith("repeated.kml")) {
      val want = base.get("layerName") match { case Some("routes") => 5L; case _ => n }
      assert(load(fmt, path, base).count() === want, s"$fmt $base")
    }
    val kml = load("kml", inputs.find(_._2.endsWith("repeated.kml")).get._2)
    assert(kml.select("name", "a", "b").collect().toSeq.map(_.toSeq) ===
      Seq(Seq("one", "first", "7"), Seq("two", "third", "8"), Seq("three", null, null)))
  }

  test("a pushed filter on a renamed _original column keeps its matching rows") {
    val path = inputs.find(_._2.endsWith("mixed.geojson")).get._2
    val df = spark.read.format("geojson").option("fidColumnName", "fid").load(path)
    assert(df.schema.fieldNames.toSeq.contains("fid_original"))
    assert(df.filter("fid_original = 5").count() === 1L)
    assert(df.filter("geometry_original = 'g'").count() === 1L)
  }
}
