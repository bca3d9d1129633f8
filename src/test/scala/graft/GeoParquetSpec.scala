package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.sources.geoparquet.GeoParquet

class GeoParquetSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpDir(tag: String): String = {
    TempDirs.untilExit(s"graft_gpq_$tag").toString
  }

  test("round-trips geometry, props, and nulls across partitions") {
    val s = spark; import s.implicits._
    GraftFunctions.register(s)
    val df = Seq(
      (1L, Some("alpha"), Some(1.5), Some(true), Some((10.0, 20.0))),
      (2L, None, Some(-2.25), Some(false), Some((-122.4, 37.8))),
      (3L, Some("gamma"), None, None, Some((0.0, 0.0))),
      (4L, Some("delta"), Some(4.0), Some(true), None)
    ).toDF("id", "tag", "score", "flag", "pt")
      .withColumn("geometry",
        when($"pt".isNotNull,
          GraftFunctions.st_point($"pt._1", $"pt._2")).otherwise(lit(null)))
      .drop("pt")
      .repartition(3)
    val dir = tmpDir("rt")
    GeoParquet.write(df, dir)

    val back = GeoParquet.read(s, dir)
    assert(back.schema("geometry").dataType.typeName === "binary")
    val rows = back
      .select($"id", $"tag", $"score", $"flag",
        when($"geometry".isNotNull, GraftFunctions.st_aswkt($"geometry")).as("wkt"))
      .orderBy($"id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), Option(r.get(4))))
    assert(rows === Seq(
      (1L, Some("alpha"), Some(1.5), Some(true), Some("POINT (10 20)")),
      (2L, None, Some(-2.25), Some(false), Some("POINT (-122.4 37.8)")),
      (3L, Some("gamma"), None, None, Some("POINT (0 0)")),
      (4L, Some("delta"), Some(4.0), Some(true), None)))
    // one file per non-empty partition, all standard parquet
    val parts = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.endsWith(".parquet"))
    assert(parts.nonEmpty)
  }

  test("stamps spec-shaped geo footer metadata with bbox and types") {
    val s = spark; import s.implicits._
    GraftFunctions.register(s)
    val df = Seq((1L, (1.0, 2.0)), (2L, (5.0, -3.0))).toDF("id", "pt")
      .withColumn("geometry", GraftFunctions.st_point($"pt._1", $"pt._2"))
      .drop("pt")
    val dir = tmpDir("meta")
    GeoParquet.write(df, dir)
    val m = GeoParquet.meta(s, dir)
    assert(m.isDefined)
    assert(m.get.primaryColumn === "geometry")
    assert(m.get.encoding === "WKB")
    assert(m.get.geometryTypes === Seq("Point"))
    assert(m.get.bbox === Some(Seq(1.0, -3.0, 5.0, 2.0)))
  }

  test("spark's own parquet reader serves the data with pushdown intact") {
    val s = spark; import s.implicits._
    GraftFunctions.register(s)
    val df = (1L to 100L).map(i => (i, s"row$i", (i.toDouble, -i.toDouble)))
      .toDF("id", "tag", "pt")
      .withColumn("geometry", GraftFunctions.st_point($"pt._1", $"pt._2"))
      .drop("pt")
    val dir = tmpDir("push")
    GeoParquet.write(df, dir)
    val q = GeoParquet.read(s, dir).filter($"id" > 90L).select($"id", $"tag")
    assert(q.count() === 10L)
    // the filter must reach the parquet scan as a pushed filter
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,90"),
      s"expected pushdown in plan:\n$plan")
  }

  test("covering bbox column: spec metadata, pushdown, and exact residual") {
    val s = spark; import s.implicits._
    GraftFunctions.register(s)
    // 200 points along the diagonal, sorted so row groups have tight
    // bbox stats; query box catches exactly ids 50..60
    val df = (1L to 200L).map(i => (i, (i.toDouble, i.toDouble)))
      .toDF("id", "pt")
      .withColumn("geometry", GraftFunctions.st_point($"pt._1", $"pt._2"))
      .drop("pt").orderBy("id").coalesce(1)
    val dir = tmpDir("cov")
    GeoParquet.write(df, dir, bboxColumn = true)

    // geo document declares the covering paths
    val raw = {
      val hconf = s.sessionState.newHadoopConf()
      val file = new java.io.File(dir).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.toString), hconf))
      try r.getFooter.getFileMetaData.getKeyValueMetaData.get("geo") finally r.close()
    }
    assert(raw.contains("\"covering\"") && raw.contains("[\"bbox\",\"xmin\"]"))

    val q = GeoParquet.read(s, dir, bbox = (50.0, 50.0, 60.0, 60.0))
    assert(q.select("id").collect().map(_.getLong(0)).sorted === (50L to 60L).toArray)
    // the covering predicate reaches the parquet scan as pushed filters
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("bbox.xmin"),
      s"expected bbox pushdown in plan:\n$plan")
    // null geometry → null bbox struct: never matches a bbox read, still present in plain read
    val withNull = df.unionByName(
      Seq((999L, null.asInstanceOf[Array[Byte]])).toDF("id", "geometry"))
    GeoParquet.write(withNull, dir, bboxColumn = true)
    assert(GeoParquet.read(s, dir).count() === 201)
    assert(GeoParquet.read(s, dir, bbox = (0.0, 0.0, 500.0, 500.0)).count() === 200)
  }

  test("overwrite swaps atomically and an empty input stays readable") {
    val s = spark; import s.implicits._
    GraftFunctions.register(s)
    def pts(n: Int) = (1 to n).map(i => (i.toLong, (i.toDouble, i.toDouble)))
      .toDF("id", "pt")
      .withColumn("geometry", GraftFunctions.st_point($"pt._1", $"pt._2"))
      .drop("pt")
    val dir = tmpDir("swap")
    GeoParquet.write(pts(3), dir)
    assert(GeoParquet.read(s, dir).count() === 3)
    // second overwrite replaces, no stale files from the first
    GeoParquet.write(pts(2), dir)
    assert(GeoParquet.read(s, dir).count() === 2)
    // overwriting with an EMPTY frame leaves a readable schema-only dataset
    GeoParquet.write(pts(2).filter($"id" < 0), dir)
    val empty = GeoParquet.read(s, dir)
    assert(empty.count() === 0)
    assert(empty.schema.fieldNames.contains("geometry"))
    assert(GeoParquet.meta(s, dir).isDefined)
    // no temp or aside debris from the commit-protocol swap
    val names = new java.io.File(dir).listFiles.map(_.getName)
    assert(!names.exists(_.startsWith(".tmp-")), names.mkString(","))
    assert(!names.exists(_.startsWith(".old-")), names.mkString(","))
    // no attempt-suffixed files leaked past task commit
    assert(!names.exists(_.contains("-a")), names.mkString(","))
  }

  test("overwrite leaves stale .old-/.tmp- debris from a crashed prior job cleaned up") {
    val s = spark; import s.implicits._
    GraftFunctions.register(s)
    val df = (1L to 4L).map(i => (i, (i.toDouble, i.toDouble))).toDF("id", "pt")
      .withColumn("geometry", GraftFunctions.st_point($"pt._1", $"pt._2"))
      .drop("pt")
    val dir = tmpDir("crashdebris")
    GeoParquet.write(df, dir)
    // simulate a crash mid-swap: stale aside + stale task tmp on disk
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".old-part-99999.parquet"),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".tmp-part-99999.parquet"),
      Array[Byte](4, 5))
    GeoParquet.write(df.filter($"id" <= 2), dir)
    val names = new java.io.File(dir).listFiles.map(_.getName)
    assert(!names.exists(n => n.startsWith(".old-") || n.startsWith(".tmp-")),
      names.mkString(","))
    assert(GeoParquet.read(s, dir).count() === 2)
  }

  test("bbox read without a covering declaration still answers correctly (residual only)") {
    val s = spark; import s.implicits._
    GraftFunctions.register(s)
    val df = (1L to 20L).map(i => (i, (i.toDouble, i.toDouble))).toDF("id", "pt")
      .withColumn("geometry", GraftFunctions.st_point($"pt._1", $"pt._2"))
      .drop("pt")
    val dir = tmpDir("nocov")
    GeoParquet.write(df, dir) // bboxColumn = false: no covering in metadata
    val q = GeoParquet.read(s, dir, bbox = (5.0, 5.0, 8.0, 8.0))
    assert(q.select("id").collect().map(_.getLong(0)).sorted === (5L to 8L).toArray)
  }

  test("rejects a missing or non-binary geometry column loudly") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "x")).toDF("id", "geometry")
    intercept[IllegalArgumentException] {
      GeoParquet.write(df, tmpDir("bad"))
    }
    intercept[IllegalArgumentException] {
      GeoParquet.write(df.drop("geometry"), tmpDir("bad2"))
    }
  }
}
