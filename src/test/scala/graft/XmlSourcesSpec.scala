package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KML/GPX readers (doc-claimed formats #5/#6, reference README.md:9-10 —
  * no reference fixtures exist, so these use inline documents). */
class XmlSourcesSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = TempDirs.untilExit("graft_xml_").toPath

  private def write(suffix: String, content: String): String = {
    val f = Files.createTempFile(dir, "doc_", suffix)
    Files.writeString(f, content)
    f.toString
  }

  private val kml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
      |<Placemark>
      |  <name>HQ</name><description>head office</description>
      |  <ExtendedData><Data name="floor"><value>3</value></Data></ExtendedData>
      |  <Point><coordinates>-93.1,45.0</coordinates></Point>
      |</Placemark>
      |<Placemark>
      |  <name>Route</name>
      |  <LineString><coordinates>0,0 1,1 2,0.5</coordinates></LineString>
      |</Placemark>
      |<Placemark>
      |  <name>Zone</name>
      |  <Polygon><outerBoundaryIs><LinearRing>
      |    <coordinates>0,0 4,0 4,4 0,4 0,0</coordinates>
      |  </LinearRing></outerBoundaryIs></Polygon>
      |</Placemark>
      |</Document></kml>""".stripMargin

  private val gpx =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<gpx version="1.1" creator="graft" xmlns="http://www.topografix.com/GPX/1/1">
      |<wpt lat="45.0" lon="-93.1"><ele>250.5</ele><name>Camp</name></wpt>
      |<wpt lat="46.5" lon="-92.2"><name>Summit</name></wpt>
      |<rte><name>R1</name>
      |  <rtept lat="0.0" lon="0.0"><name>a</name></rtept>
      |  <rtept lat="1.0" lon="1.0"><name>b</name></rtept>
      |</rte>
      |<trk><name>T1</name>
      |  <trkseg>
      |    <trkpt lat="10.0" lon="10.0"><ele>100.0</ele></trkpt>
      |    <trkpt lat="10.1" lon="10.1"><ele>110.0</ele></trkpt>
      |  </trkseg>
      |  <trkseg>
      |    <trkpt lat="11.0" lon="11.0"><ele>120.0</ele></trkpt>
      |    <trkpt lat="11.1" lon="11.2"><ele>130.0</ele></trkpt>
      |  </trkseg>
      |</trk>
      |</gpx>""".stripMargin

  private val gml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml"
      |                       xmlns:app="http://graft.example/app">
      |<gml:featureMember>
      |  <app:city gml:id="c1">
      |    <app:name>Alpha</app:name>
      |    <app:pop>120000</app:pop>
      |    <app:geom><gml:Point><gml:pos>10.5 48.2</gml:pos></gml:Point></app:geom>
      |  </app:city>
      |</gml:featureMember>
      |<gml:featureMember>
      |  <app:city gml:id="c2">
      |    <app:name>Beta</app:name>
      |    <app:geom><gml:Point><gml:coordinates>11.0,47.0</gml:coordinates></gml:Point></app:geom>
      |  </app:city>
      |</gml:featureMember>
      |<gml:featureMember>
      |  <app:road gml:id="r1">
      |    <app:name>R66</app:name>
      |    <app:lanes>4</app:lanes>
      |    <app:geom><gml:LineString><gml:posList>0 0 1 1 2 0.5</gml:posList></gml:LineString></app:geom>
      |  </app:road>
      |</gml:featureMember>
      |<gml:featureMember>
      |  <app:zone gml:id="z1">
      |    <app:geom><gml:Polygon>
      |      <gml:exterior><gml:LinearRing><gml:posList>0 0 4 0 4 4 0 4 0 0</gml:posList></gml:LinearRing></gml:exterior>
      |      <gml:interior><gml:LinearRing><gml:posList>1 1 2 1 2 2 1 2 1 1</gml:posList></gml:LinearRing></gml:interior>
      |    </gml:Polygon></app:geom>
      |  </app:zone>
      |</gml:featureMember>
      |<gml:featureMember>
      |  <app:region gml:id="m1">
      |    <app:geom><gml:MultiPolygon>
      |      <gml:Polygon><gml:exterior><gml:LinearRing><gml:posList>0 0 1 0 1 1 0 0</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon>
      |      <gml:Polygon><gml:exterior><gml:LinearRing><gml:posList>5 5 6 5 6 6 5 5</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon>
      |    </gml:MultiPolygon></app:geom>
      |  </app:region>
      |</gml:featureMember>
      |</gml:FeatureCollection>""".stripMargin

  test("gml: feature members with pos/posList/coordinates and nested wrappers") {
    graft.functions.GraftFunctions.register(spark)
    val df = spark.read.format("gml").load(write(".gml", gml))
    assert(df.count() === 5)
    val rows = df.select(col("gml_id"), col("name"),
        expr("st_geometrytype(geometry)").as("t"),
        expr("st_aswkt(geometry)").as("wkt"))
      .orderBy("gml_id").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("c1", "c2", "m1", "r1", "z1"))
    assert(rows(0).getString(1) === "Alpha" && rows(0).getString(2) === "Point")
    assert(rows(0).getString(3) === "POINT (10.5 48.2)")
    assert(rows(1).getString(3) === "POINT (11 47)") // GML2 coordinates form
    assert(rows(2).getString(2) === "MultiPolygon")
    assert(rows(3).getString(2) === "LineString")
    assert(rows(4).getString(2) === "Polygon")
    assert(rows(4).getString(3).contains("(1 1")) // interior ring survived
    // properties: pop only on cities (null elsewhere), lanes only on road
    val byId = df.collect().map(r => r.getAs[String]("gml_id") ->
      (Option(r.getAs[String]("pop")), Option(r.getAs[String]("lanes")))).toMap
    assert(byId("c1") === ((Some("120000"), None)))
    assert(byId("r1") === ((None, Some("4"))))
  }

  test("gml: plural featureMembers container yields every child feature") {
    graft.functions.GraftFunctions.register(spark)
    val plural =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml"
        |                       xmlns:app="http://graft.example/app">
        |<gml:featureMembers>
        |  <app:city gml:id="p1"><app:name>One</app:name>
        |    <app:geom><gml:Point><gml:pos>1 1</gml:pos></gml:Point></app:geom></app:city>
        |  <app:city gml:id="p2"><app:name>Two</app:name>
        |    <app:geom><gml:Point><gml:pos>2 2</gml:pos></gml:Point></app:geom></app:city>
        |  <app:city gml:id="p3"><app:name>Three</app:name>
        |    <app:geom><gml:Point><gml:pos>3 3</gml:pos></gml:Point></app:geom></app:city>
        |</gml:featureMembers>
        |</gml:FeatureCollection>""".stripMargin
    val df = spark.read.format("gml").load(write(".gml", plural))
    assert(df.count() === 3) // regression: only the first sibling survived
    assert(df.select("gml_id").collect().map(_.getString(0)).sorted ===
      Array("p1", "p2", "p3"))
  }

  test("gml: 3D posList honors srsDimension; malformed geometry degrades to null") {
    graft.functions.GraftFunctions.register(spark)
    val tricky =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<gml:FeatureCollection xmlns:gml="http://www.opengis.net/gml"
        |                       xmlns:app="http://graft.example/app">
        |<gml:featureMember>
        |  <app:road gml:id="d3"><app:geom>
        |    <gml:LineString><gml:posList srsDimension="3">1 2 10 3 4 11</gml:posList></gml:LineString>
        |  </app:geom></app:road>
        |</gml:featureMember>
        |<gml:featureMember>
        |  <app:road gml:id="bad"><app:name>no coords</app:name>
        |    <app:geom><gml:Point></gml:Point></app:geom></app:road>
        |</gml:featureMember>
        |</gml:FeatureCollection>""".stripMargin
    val df = spark.read.format("gml").load(write(".gml", tricky))
    val rows = df.selectExpr("gml_id",
        "CASE WHEN geometry IS NULL THEN NULL ELSE st_aswkt(geometry) END AS wkt")
      .orderBy("gml_id").collect()
    // 2 elevation values dropped, xy pairs correct (not re-paired garbage)
    assert(rows(1).getString(0) === "d3" &&
      rows(1).getString(1) === "LINESTRING (1 2, 3 4)")
    // empty Point: feature survives with null geometry, scan not aborted
    assert(rows(0).getString(0) === "bad" && rows(0).isNullAt(1))
  }

  test("gml: layerName filters to one feature type") {
    graft.functions.GraftFunctions.register(spark)
    val path = write(".gml", gml)
    val cities = spark.read.format("gml").option("layerName", "city").load(path)
    assert(cities.count() === 2)
    assert(cities.select("name").collect().map(_.getString(0)).sorted ===
      Array("Alpha", "Beta"))
    // no cross-type columns leak into the filtered layer
    assert(!cities.columns.contains("lanes"))
  }

  test("kml: placemarks with point/line/polygon and extended data") {
    graft.functions.GraftFunctions.register(spark)
    val df = spark.read.format("kml").load(write(".kml", kml))
    assert(df.count() === 3)
    val rows = df.select(col("name"), col("floor"),
        expr("st_geometrytype(geometry)").as("t"), expr("st_aswkt(geometry)").as("wkt"))
      .orderBy("name").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("HQ", "Route", "Zone"))
    assert(rows(0).getString(1) === "3" && rows(0).getString(2) === "Point")
    assert(rows(0).getString(3) === "POINT (-93.1 45)")
    assert(rows(1).getString(2) === "LineString")
    assert(rows(2).getString(2) === "Polygon")
  }

  test("gpx: waypoints default layer; tracks/routes/track_points by layerName") {
    graft.functions.GraftFunctions.register(spark)
    val path = write(".gpx", gpx)

    val wpts = spark.read.format("gpx").load(path)
    assert(wpts.count() === 2)
    val camp = wpts.filter(col("name") === "Camp")
      .selectExpr("ele", "st_aswkt(geometry)").collect()(0)
    assert(camp.getDouble(0) === 250.5)
    assert(camp.getString(1) === "POINT (-93.1 45)")

    val tracks = spark.read.format("gpx").option("layerName", "tracks").load(path)
    val t = tracks.selectExpr("name", "n_segments", "st_geometrytype(geometry)",
      "st_npoints(geometry)").collect()(0)
    assert(t.getString(0) === "T1" && t.getInt(1) === 2)
    assert(t.getString(2) === "MultiLineString" && t.getInt(3) === 4)

    val routes = spark.read.format("gpx").option("layerName", "routes").load(path)
    val rt = routes.selectExpr("name", "st_geometrytype(geometry)").collect()(0)
    assert(rt.getString(0) === "R1" && rt.getString(1) === "LineString")

    val tp = spark.read.format("gpx").option("layerName", "track_points").load(path)
    assert(tp.count() === 4)
    assert(tp.select("track_seg_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 0L, 1L, 1L))
    assert(tp.select("ele").collect().map(_.getDouble(0)).sorted.toSeq ===
      Seq(100.0, 110.0, 120.0, 130.0))

    val e = intercept[Exception] {
      spark.read.format("gpx").option("layerName", "bogus").load(path).collect()
    }
    assert(e.getMessage.contains("no layer 'bogus'"))
  }

  test("gpx write -> read round trip (waypoints layer)") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (12.5, "Summit & back", "POINT (11.1 47.2)"),
      (3.25, "Trailhead", "POINT (11.05 47.18)"))
      .toDF("ele", "name", "wkt")
      .withColumn("geometry", org.apache.spark.sql.functions.expr("st_geomfromwkt(wkt)"))
      .drop("wkt")
    val out = TempDirs.untilExit("graft_gpxw_").toString
    df.coalesce(1).write.format("gpx").mode("overwrite").save(out)
    val back = spark.read.format("gpx").load(out) // waypoints is the default layer
    assert(back.count() === 2)
    val got = back.selectExpr("name", "ele", "st_aswkt(geometry)")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2))).sortBy(_._1)
    assert(got.toSeq === Seq(
      ("Summit & back", 12.5, "POINT (11.1 47.2)"),
      ("Trailhead", 3.25, "POINT (11.05 47.18)")))
    // non-point geometry errors loudly (GPX waypoints are points)
    val bad = Seq(("x", "LINESTRING (0 0, 1 1)")).toDF("name", "wkt")
      .withColumn("geometry", org.apache.spark.sql.functions.expr("st_geomfromwkt(wkt)"))
      .drop("wkt")
    val e = intercept[Exception] {
      bad.coalesce(1).write.format("gpx").mode("overwrite")
        .save(TempDirs.untilExit("graft_gpxbad_").toString)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("requires Point geometry")))
  }

  test("kml write -> read round trip across geometry types") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    val wkts = Seq(
      (1L, "alpha & <co>", "POINT (1 2)"),
      (2L, "beta", "LINESTRING (0 0, 1 1, 2 0)"),
      (3L, "gamma", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 1 2, 1 1))"),
      (4L, "delta", "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))"),
      // single-member multis collapse to the member through KML (the
      // format has no typed multi-geometries) — use 2 members
      (5L, "epsilon",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))"))
    val df = wkts.toDF("id", "name", "wkt")
      .withColumn("geometry", org.apache.spark.sql.functions.expr("st_geomfromwkt(wkt)"))
      .drop("wkt")
    val out = TempDirs.untilExit("graft_kmlw_").toString
    df.coalesce(1).write.format("kml").mode("overwrite").save(out)

    val back = spark.read.format("kml").load(out)
    assert(back.count() === 5)
    // name -> <name>, id -> ExtendedData (read back as its string form)
    val got = back.selectExpr("name", "id", "st_aswkt(geometry)")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._2)
    assert(got.map(_._1).toSeq === wkts.sortBy(_._1).map(_._2))
    got.zip(wkts.sortBy(_._1)).foreach { case ((_, id, wkt), (wantId, _, wantWkt)) =>
      assert(id === wantId.toString)
      assert(wkt === graft.geom.GeomCodec.toWkt(graft.geom.GeomCodec.fromWkt(wantWkt)))
    }
    // bytes parity
    val bytes = graft.GdalWrite.toBytes(df.limit(2), format = "kml")
    assert(new String(bytes, "UTF-8").contains("<kml"))
    val round = graft.GdalRead.fromBytes(spark, bytes, Some("round.kml"))
    assert(round.count() === 2)
  }

  test("gml write -> read round trip across geometry types") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    val wkts = Seq(
      ("s0", "alpha & <co>", "POINT (1 2)"),
      ("s1", "beta", "LINESTRING (0 0, 1 1, 2 0)"),
      ("s2", "gamma", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 1 2, 1 1))"),
      ("s3", "delta", "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))"),
      ("s4", "epsilon",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))"))
    val df = wkts.toDF("gml_id", "name", "wkt")
      .withColumn("geometry", org.apache.spark.sql.functions.expr("st_geomfromwkt(wkt)"))
      .drop("wkt")
    val out = TempDirs.untilExit("graft_gmlw_").toString
    df.coalesce(1).write.format("gml").option("layerName", "spot")
      .mode("overwrite").save(out)
    val back = spark.read.format("gml").load(out)
    assert(back.count() === 5)
    val got = back.selectExpr("gml_id", "name", "st_aswkt(geometry)")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    got.zip(wkts.sortBy(_._1)).foreach { case ((id, name, wkt), (wantId, wantName, wantWkt)) =>
      assert(id === wantId)
      assert(name === wantName) // XML escaping round-trips
      assert(wkt === graft.geom.GeomCodec.toWkt(graft.geom.GeomCodec.fromWkt(wantWkt)))
    }
  }

  test("gml write rejects non-NCName column and layer names at plan time") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(("a", "POINT (1 2)")).toDF("bad name", "wkt")
      .withColumn("geometry", org.apache.spark.sql.functions.expr("st_geomfromwkt(wkt)"))
      .drop("wkt")
    val out = TempDirs.untilExit("graft_gmlnc_").toString
    val e = intercept[Exception] {
      df.write.format("gml").mode("overwrite").save(out)
    }
    assert(e.getMessage.contains("NCName") ||
      Option(e.getCause).exists(_.getMessage.contains("NCName")))
    // a colon-bearing layer name is equally malformed
    val ok = Seq(("a", "POINT (1 2)")).toDF("name", "wkt")
      .withColumn("geometry", org.apache.spark.sql.functions.expr("st_geomfromwkt(wkt)"))
      .drop("wkt")
    val e2 = intercept[Exception] {
      ok.write.format("gml").option("layerName", "app:spot")
        .mode("overwrite").save(out)
    }
    assert(e2.getMessage.contains("NCName") ||
      Option(e2.getCause).exists(_.getMessage.contains("NCName")))
  }

  test("gpx bytes-out round trip (waypoints layer)") {
    val s = spark
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val df = Seq(("a", "POINT (11 47)"), ("b", "POINT (12 48)"))
      .toDF("name", "wkt")
      .selectExpr("name", "st_geomfromwkt(wkt) AS geometry")
    val bytes = graft.GdalWrite.toBytes(df, format = "gpx")
    assert(new String(bytes, "UTF-8").contains("<gpx"))
    val round = graft.GdalRead.fromBytes(spark, bytes, Some("round.gpx"))
    assert(round.count() === 2)
    assert(round.selectExpr("st_aswkt(geometry)").as[String].collect().sorted ===
      Array("POINT (11 47)", "POINT (12 48)"))
  }
}
