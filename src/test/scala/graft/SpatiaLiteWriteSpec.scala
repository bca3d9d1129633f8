package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SpatiaLite write path: our reader round-trips it, and — the real
  * conformance check — python's bundled sqlite3 (a driver-side tool, not
  * a library dependency) opens the produced file and reads identical
  * rows. */
class SpatiaLiteWriteSpec extends AnyFunSuite {
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
    val out = TempDirs.untilExit("graft_slw_").toString
    df.coalesce(1).write.format("spatialite")
      .option("layerName", "towns").mode("overwrite").save(out)
    val f = new java.io.File(out).listFiles().find(_.getName.endsWith(".sqlite")).get
    (out, f)
  }

  test("spatialite write: srs option lands as the stored srid") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    val out = TempDirs.untilExit("graft_slsrs_").toString
    Seq((1L, "POINT (500000 4649776)")).toDF("id", "wkt")
      .withColumn("geometry", expr("st_geomfromwkt(wkt)")).drop("wkt")
      .coalesce(1).write.format("spatialite")
      .option("layerName", "utm").option("srs", "EPSG:32633")
      .mode("overwrite").save(out)
    val f = new java.io.File(out).listFiles().find(_.getName.endsWith(".sqlite")).get
    val script =
      s"""import sqlite3
         |con = sqlite3.connect('${f.getAbsolutePath}')
         |print(con.execute('SELECT f_table_name, srid FROM geometry_columns').fetchall())
         |""".stripMargin
    val p = new ProcessBuilder("python3", "-c", script).redirectErrorStream(true).start()
    val o = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() === 0, o)
    assert(o.contains("('utm', 32633)"), o)
  }

  test("spatialite write -> read round trip through our own reader") {
    val (dir, _) = writeSample()
    val back = spark.read.format("spatialite").option("layerName", "towns").load(dir)
    assert(back.count() === 3)
    assert(back.schema.fieldNames.toSeq === Seq("code", "name", "score", "geometry"))
    val r = back.filter(col("name") === "Arezzo")
      .selectExpr("code", "score", "st_aswkt(geometry)").collect()(0)
    assert(r.getLong(0) === 51002L && r.getDouble(1) === -7.25)
    assert(r.getString(2) === "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
  }

  test("spatialite write: a real sqlite3 (python stdlib) reads the file") {
    val (_, file) = writeSample()
    val script =
      s"""import sqlite3, sys
         |con = sqlite3.connect('${file.getAbsolutePath}')
         |rows = con.execute('SELECT code, name, score, length(geometry) FROM towns ORDER BY code').fetchall()
         |print(rows)
         |print(con.execute('SELECT f_table_name, f_geometry_column, srid FROM geometry_columns').fetchall())
         |ok = con.execute('PRAGMA integrity_check').fetchall()
         |print(ok)
         |""".stripMargin
    val p = new ProcessBuilder("python3", "-c", script).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() === 0, out)
    assert(out.contains("(51001, 'Anghiari', 2.5,"), out)
    assert(out.contains("(51002, 'Arezzo', -7.25,"), out)
    assert(out.contains("('towns', 'geometry', 4326)"), out)
    assert(out.contains("[('ok',)]"), out) // PRAGMA integrity_check passes
  }

  test("spatialite write: overflow-page geometries survive both readers") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    // A ring with 2000 vertices → ~32KB blob → multi-page overflow chain.
    val ring = (0 until 2000).map { i =>
      val a = 2 * math.Pi * i / 2000
      s"${math.cos(a)} ${math.sin(a)}"
    }.mkString("POLYGON ((", ", ", s", ${math.cos(0.0)} ${math.sin(0.0)}))")
    val df = Seq((1L, ring)).toDF("id", "wkt")
      .withColumn("geometry", expr("st_geomfromwkt(wkt)")).drop("wkt")
    val out = TempDirs.untilExit("graft_slo_").toString
    df.write.format("spatialite").option("layerName", "big").mode("overwrite").save(out)
    val back = spark.read.format("spatialite").load(out)
    assert(back.selectExpr("st_npoints(geometry)").collect()(0).getInt(0) === 2001)
    val f = new java.io.File(out).listFiles().find(_.getName.endsWith(".sqlite")).get
    val script =
      s"""import sqlite3
         |con = sqlite3.connect('${f.getAbsolutePath}')
         |print(con.execute('SELECT id, length(geometry) FROM big').fetchall())
         |print(con.execute('PRAGMA integrity_check').fetchall())
         |""".stripMargin
    val p = new ProcessBuilder("python3", "-c", script).redirectErrorStream(true).start()
    val outStr = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() === 0, outStr)
    assert(outStr.contains(s"(1, ${39 + 4 + 4 + 4 + 2001 * 16 + 1})"), outStr)
    assert(outStr.contains("[('ok',)]"), outStr)
  }
}
