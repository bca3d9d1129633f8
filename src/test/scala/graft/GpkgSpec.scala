package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GeoPackage read/write on the shared SQLite stack: our reader
  * round-trips it, python's bundled sqlite3 opens the produced file
  * (integrity_check + metadata tables + the GPKG header stamps), and the
  * GeoPackageBinary blob codec survives every geometry class. */
class GpkgSpec extends AnyFunSuite {
  import TestSpark._

  private def writeSample(): (String, java.io.File) = {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (51001L, "Anghiari", 2.5, "POINT (11.9 43.5)"),
      (51002L, "Arezzo", -7.25, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
      (51006L, "Capolona", 0.0, "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)))"))
      .toDF("code", "name", "score", "wkt")
      .withColumn("geometry", expr("st_geomfromwkt(wkt)")).drop("wkt")
    val out = TempDirs.untilExit("graft_gpkg_").toString
    df.coalesce(1).write.format("gpkg")
      .option("layerName", "towns").mode("overwrite").save(out)
    val f = new java.io.File(out).listFiles().find(_.getName.endsWith(".gpkg")).get
    (out, f)
  }

  test("gpkg write -> read round trip through our own reader") {
    val (dir, _) = writeSample()
    val back = spark.read.format("gpkg").option("layerName", "towns").load(dir)
    assert(back.count() === 3)
    // fid (rowid IPK) surfaces as a column; geometry decoded from the
    // GeoPackageBinary blob
    assert(back.schema.fieldNames.toSeq ===
      Seq("fid", "code", "name", "score", "geometry"))
    val r = back.filter(col("name") === "Arezzo")
      .selectExpr("fid", "code", "score", "st_aswkt(geometry)").collect()(0)
    assert(r.getLong(0) === 2L && r.getLong(1) === 51002L && r.getDouble(2) === -7.25)
    assert(r.getString(3) === "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
  }

  test("gpkg file passes sqlite3 integrity_check with GPKG stamps and metadata") {
    val (_, f) = writeSample()
    val script =
      s"""import sqlite3
         |con = sqlite3.connect('${f.getAbsolutePath}')
         |print(con.execute('PRAGMA integrity_check').fetchall())
         |print(con.execute('PRAGMA application_id').fetchall())
         |print(con.execute('PRAGMA user_version').fetchall())
         |print(con.execute('SELECT table_name, data_type, srs_id FROM gpkg_contents').fetchall())
         |print(con.execute('SELECT table_name, column_name, geometry_type_name FROM gpkg_geometry_columns').fetchall())
         |print(con.execute('SELECT srs_id, organization FROM gpkg_spatial_ref_sys ORDER BY srs_id').fetchall())
         |print(con.execute('SELECT fid, code, name FROM towns ORDER BY fid').fetchall())
         |""".stripMargin
    val p = new ProcessBuilder("python3", "-c", script).redirectErrorStream(true).start()
    val o = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() === 0, o)
    assert(o.contains("[('ok',)]"), o)
    assert(o.contains(s"[(${0x47504B47},)]"), o) // application_id "GPKG"
    assert(o.contains("[(10300,)]"), o) // user_version 1.3.0
    assert(o.contains("('towns', 'features', 4326)"), o)
    assert(o.contains("('towns', 'geometry', 'POINT')"), o)
    assert(o.contains("(-1, 'NONE'), (0, 'NONE'), (4326, 'EPSG')"), o)
    assert(o.contains("(1, 51001, 'Anghiari')"), o)
  }

  test("gpkg geometry blob codec round-trips all geometry classes") {
    val wkts = Seq(
      "POINT (1 2)",
      "LINESTRING (0 0, 1 1, 2 0)",
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
      "MULTIPOINT ((1 1), (2 2))",
      "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 2, 3 2, 3 3, 2 3, 2 2)))",
      "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 1))")
    wkts.foreach { wkt =>
      val g = graft.geom.GeomCodec.fromWkt(wkt)
      val blob = graft.sources.gpkg.GpkgGeom.fromJts(g, 4326)
      assert(blob(0) === 'G'.toByte && blob(1) === 'P'.toByte)
      val back = graft.sources.gpkg.GpkgGeom.toWkb(blob)
      assert(graft.geom.GeomCodec.wkbToWkt(back) === wkt)
    }
    // little-endian header variant (flags bit 0) decodes too
    val le = {
      val g = graft.geom.GeomCodec.fromWkt("POINT (3 4)")
      val wkb = graft.geom.GeomCodec.toWkb(g)
      val buf = java.nio.ByteBuffer.allocate(8 + wkb.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('G'.toByte).put('P'.toByte).put(0.toByte)
        .put(0x01.toByte) // LE header, no envelope
        .putInt(4326).put(wkb)
      buf.array()
    }
    assert(graft.geom.GeomCodec.wkbToWkt(
      graft.sources.gpkg.GpkgGeom.toWkb(le)) === "POINT (3 4)")
    // empty flag → null
    val empty = Array[Byte]('G', 'P', 0, 0x10, 0, 0, 16, -58)
    assert(graft.sources.gpkg.GpkgGeom.toWkb(empty) === null)
  }

  test("gpkg bytes round trip (W2 parity)") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((1L, "a", "POINT (1 2)"), (2L, "b", "POINT (3 4)"))
      .toDF("id", "tag", "wkt")
      .withColumn("geometry", expr("st_geomfromwkt(wkt)")).drop("wkt")
    val bytes = GdalWrite.toBytes(df, Map("layerName" -> "pts"), format = "gpkg")
    val back = GdalRead.fromBytes(spark, bytes, Some("pts.gpkg"))
    assert(back.count() === 2)
    assert(back.selectExpr("st_aswkt(geometry)").as[String].collect().sorted
      === Array("POINT (1 2)", "POINT (3 4)"))
  }

  test("gpkg read splits: multi-page table plans multiple b-tree splits") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    // enough rows to force interior pages (4 KiB pages)
    val df = (1 to 3000).map(i => (i.toLong, s"row_$i", s"POINT ($i ${i % 90})"))
      .toDF("id", "tag", "wkt")
      .withColumn("geometry", expr("st_geomfromwkt(wkt)")).drop("wkt")
    val out = TempDirs.untilExit("graft_gpkg_split_").toString
    df.coalesce(1).write.format("gpkg")
      .option("layerName", "big").mode("overwrite").save(out)
    val file = new java.io.File(out).listFiles().find(_.getName.endsWith(".gpkg")).get
    val splits = new graft.sources.gpkg.GpkgFormat()
      .planSplits(file.getAbsolutePath,
        graft.sources.GdalOptions.from(Map("layerName" -> "big")))
    assert(splits.length > 1, s"expected b-tree child splits, got $splits")
    val back = spark.read.format("gpkg").option("layerName", "big").load(out)
    assert(back.count() === 3000)
    assert(back.agg(sum("id")).collect()(0).getLong(0) === 3000L * 3001L / 2L)
  }
}
