package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ShapefileWriteSpec extends AnyFunSuite {
  import TestSpark._

  test("shapefile write -> read round trip (points + string fields)") {
    val out = TempDirs.untilExit("graft_shpw_").toString
    val src = spark.read.format("shapefile").load(s"$fixtures/stations.shp")
    src.coalesce(1).write.format("shapefile").mode("overwrite").save(out)
    assert(new java.io.File(out).listFiles().map(_.getName).count(_.endsWith(".shp")) === 1)
    val back = spark.read.format("shapefile").load(out)
    assert(back.count() === 86)
    val a = src.select("name").collect().map(_.getString(0)).sorted
    val b = back.select("name").collect().map(_.getString(0)).sorted
    assert(a.toSeq === b.toSeq)
    // geometry round trip: same WKT points
    val wa = src.selectExpr("st_aswkt(geometry) w").collect().map(_.getString(0)).sorted
    val wb = back.selectExpr("st_aswkt(geometry) w").collect().map(_.getString(0)).sorted
    assert(wa.toSeq === wb.toSeq)
    // attempt isolation left no in-progress file or directory behind
    val names = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
    try assert(!names.anyMatch(_.getFileName.toString.endsWith(".inprogress")))
    finally names.close()
  }

  test("shapefile write: srs emits a .prj sidecar, geometryType overrides autodetect") {
    val out = TempDirs.untilExit("graft_shpsrs_").toString
    spark.read.format("shapefile").load(s"$fixtures/stations.shp")
      .coalesce(1).write.format("shapefile").mode("overwrite")
      .option("srs", "EPSG:4326").option("geometryType", "point")
      .save(out)
    val prj = new java.io.File(out).listFiles().find(_.getName.endsWith(".prj"))
    assert(prj.isDefined, "expected a .prj sidecar")
    val wkt = java.nio.file.Files.readString(prj.get.toPath)
    assert(wkt.startsWith("GEOGCS[\"GCS_WGS_1984\"") && wkt.contains("WGS_1984"))
    // forced shape type lands in the .shp header (byte 32, LE)
    val shp = new java.io.File(out).listFiles().find(_.getName.endsWith(".shp")).get
    val head = java.nio.file.Files.readAllBytes(shp.toPath)
    val st = java.nio.ByteBuffer.wrap(head, 32, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(st === 1)
    // raw WKT passes through; unknown EPSG codes fail loudly
    assert(graft.sources.shapefile.ShpWriter.prjWkt("PROJCS[\"x\"]") === "PROJCS[\"x\"]")
    assertThrows[IllegalArgumentException] {
      graft.sources.shapefile.ShpWriter.prjWkt("EPSG:27700")
    }
  }

  test("shapefile write: polygons with numeric/bool fields round trip") {
    val s = spark; import s.implicits._
    import graft.functions.GraftFunctions._
    val out = TempDirs.untilExit("graft_shpp_").toString
    val df = Seq(
      ("alpha", 3L, 1.25, true, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
      ("beta", -7L, -2.5, false,
        "POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10), (12 12, 14 12, 14 14, 12 14, 12 12))"))
      .toDF("label", "n", "x", "flag", "wkt")
      .withColumn("geometry", st_geomfromwkt($"wkt")).drop("wkt")
    df.coalesce(1).write.format("shapefile").mode("overwrite").save(out)
    val back = spark.read.format("shapefile").load(out).orderBy("label")
    assert(back.schema("n").dataType === LongType)
    assert(back.schema("x").dataType === DoubleType)
    assert(back.schema("flag").dataType === BooleanType)
    val rows = back.selectExpr("label", "n", "x", "flag", "st_area(geometry) a").collect()
    assert(rows(0).getString(0) === "alpha" && rows(0).getLong(1) === 3L &&
      rows(0).getDouble(2) === 1.25 && rows(0).getBoolean(3) && rows(0).getDouble(4) === 16.0)
    assert(rows(1).getLong(1) === -7L && !rows(1).getBoolean(3) &&
      rows(1).getDouble(4) === 96.0) // 100 - 4 hole
  }

  test("toBytes(shapefile) is reproducible: every zip entry carries the fixed time") {
    val df = spark.read.format("shapefile").load(s"$fixtures/stations.shp").limit(3)
    val first = GdalWrite.toBytes(df, format = "shapefile")
    Thread.sleep(2100) // past the 2 s resolution of a zip entry's time
    assert(GdalWrite.toBytes(df, format = "shapefile").toSeq === first.toSeq)
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(first))
    try {
      val times = Iterator.continually(zin.getNextEntry).takeWhile(_ != null).map(_.getTime).toList
      assert(times.length >= 3 && times.forall(_ == GdalWrite.ZipEntryTime), times)
    } finally zin.close()
  }
}
