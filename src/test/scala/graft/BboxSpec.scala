package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FeaturePartition
import graft.sources.flatgeobuf.FgbIndex
import graft.sources.flatgeobuf.FgbIndex.Box

/** Spatial-filter pushdown: the packed Hilbert R-tree (FGB), shapefile
  * header/record boxes, and the Catalyst rule that turns an
  * st_intersects_bbox predicate into the scan's bbox option. */
class BboxSpec extends AnyFunSuite {
  import TestSpark._

  // ------------------------------------------------------------ FgbIndex

  test("packed R-tree: level bounds match the spec shape") {
    // 10 items, node size 4: items at (4,14), mid (1,4), root (0,1)
    assert(FgbIndex.levelBounds(10, 4) === Seq((4L, 14L), (1L, 4L), (0L, 1L)))
  }

  test("packed R-tree: build+search returns exactly the intersecting items") {
    val rnd = new scala.util.Random(7)
    val boxes = IndexedSeq.tabulate(257) { _ =>
      val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 100
      Box(x, y, x + rnd.nextDouble() * 3, y + rnd.nextDouble() * 3)
    }
    // Hilbert-order them like the writer does, offsets = index * 100
    val order = FgbIndex.hilbertOrder(boxes)
    val sorted = order.map(boxes)
    val bytes = FgbIndex.build(sorted.zipWithIndex.map { case (b, i) => (b, i * 100L) }, 16)
    assert(bytes.length === FgbIndex.levelBounds(257, 16).head._2 * 40)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val readNodes = (first: Long, count: Int) => {
      val out = java.nio.ByteBuffer.allocate(count * 40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put(bytes, first.toInt * 40, count * 40)
      out
    }
    for (q <- Seq(Box(10, 10, 30, 30), Box(0, 0, 100, 100), Box(200, 200, 300, 300),
        Box(50.5, 50.5, 50.6, 50.6))) {
      val got = FgbIndex.search(readNodes, 257, 16, q).map(_._2).toSet
      val want = sorted.indices.filter(i => q.intersects(sorted(i))).map(_.toLong).toSet
      assert(got === want, s"query $q")
    }
  }

  test("packed R-tree: contiguous candidates merge into runs") {
    assert(FgbIndex.runs(Seq((0L, 3L), (100L, 4L), (200L, 5L), (900L, 9L))) ===
      Seq((3L, 3L, 0L), (9L, 1L, 900L)))
  }

  // -------------------------------------------------- FGB write + bbox read

  private lazy val fgbDir: String = {
    graft.functions.GraftFunctions.register(spark)
    val out = TempDirs.untilExit("graft_bbox_fgb_").toString
    spark.read.format("shapefile").load(s"$fixtures/stations.shp")
      .coalesce(1).write.format("flatgeobuf").mode("overwrite").save(out)
    out
  }
  private val dcBox = "-77.05,38.88,-76.99,38.92"

  test("fgb writer emits a packed Hilbert R-tree the reader's planSplits uses") {
    val full = spark.read.format("flatgeobuf").load(fgbDir)
    assert(full.count() === 86)
    val filtered = spark.read.format("flatgeobuf").option("bbox", dcBox).load(fgbDir)
    assert(filtered.count() === 19)
    // split planning reads only matching byte ranges: the planned record
    // count is the candidate count, not the file count
    val scans = filtered.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    val planned = scans.head.inputPartitions.collect { case FeaturePartition(sp, _) => sp }
    assert(planned.nonEmpty && planned.forall(_.byteStart > 0))
    assert(planned.map(_.numRecords).sum === 19L)
    assert(scans.head.scan.description().contains("bbox=[-77.05"))
  }

  test("fgb header envelope prunes whole files on an extent miss") {
    val miss = spark.read.format("flatgeobuf").option("bbox", "0,0,1,1").load(fgbDir)
    assert(miss.count() === 0)
    val scans = miss.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.head.inputPartitions.isEmpty,
      "header envelope should prune the file before any index search")
  }

  test("fgb bbox read equals full-scan filter, FIDs keep file positions") {
    val full = spark.read.format("flatgeobuf").option("fidColumnName", "fid").load(fgbDir)
      .where(expr(s"st_intersects_bbox(geometry, $dcBox)"))
    val idx = spark.read.format("flatgeobuf").option("fidColumnName", "fid")
      .option("bbox", dcBox).load(fgbDir)
    assert(idx.select("fid", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      full.select("fid", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  test("fgb bbox over a multi-file directory: per-file prune + per-file index") {
    // 3 part files, each with its own R-tree and envelope; the bbox read
    // must union per-file candidates and envelope-prune files that miss
    val out = TempDirs.untilExit("graft_bbox_multi_").toString
    spark.read.format("shapefile").load(s"$fixtures/stations.shp")
      .repartition(3).write.format("flatgeobuf").mode("overwrite").save(out)
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".fgb")) === 3)
    val full = spark.read.format("flatgeobuf").load(out)
    assert(full.count() === 86)
    val filtered = spark.read.format("flatgeobuf").option("bbox", dcBox).load(out)
    assert(filtered.count() === 19)
    assert(filtered.select("name").collect().map(_.getString(0)).sorted.toSeq ===
      spark.read.format("flatgeobuf").option("bbox", dcBox).load(fgbDir)
        .select("name").collect().map(_.getString(0)).sorted.toSeq)
  }

  test("fgb without geometry keeps the index-less layout and still reads") {
    val s = spark; import s.implicits._
    val out = TempDirs.untilExit("graft_bbox_nulls_").toString
    Seq((1L, Some("POINT (0 0)")), (2L, None), (3L, Some("POINT (5 5)")))
      .toDF("id", "wkt")
      .withColumn("geometry", expr("st_geomfromwkt(wkt)")).drop("wkt")
      .coalesce(1).write.format("flatgeobuf").mode("overwrite").save(out)
    assert(spark.read.format("flatgeobuf").load(out).count() === 3)
    // streaming fallback: bbox still works without an index (null geometry excluded)
    assert(spark.read.format("flatgeobuf").option("bbox", "-1,-1,1,1").load(out).count() === 1)
  }

  // -------------------------------------------------------- shapefile bbox

  test("shapefile bbox read: record boxes prune, file-extent miss plans nothing") {
    val filtered = spark.read.format("shapefile").option("bbox", dcBox)
      .load(s"$fixtures/stations.shp")
    assert(filtered.count() === 19)
    val miss = spark.read.format("shapefile").option("bbox", "0,0,1,1")
      .load(s"$fixtures/stations.shp")
    assert(miss.count() === 0)
    val scans = miss.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.head.inputPartitions.isEmpty, "whole file should be pruned by header extent")
  }

  // ------------------------------------------- generic (index-less) formats

  test("bbox option is enforced on every format, not just indexed ones") {
    // geojson has no spatial index — the reader-level filter must still
    // honor the option instead of silently returning everything
    val us = spark.read.format("geojson")
      .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
    val full = us.count()
    val box = "-125.0,32.0,-114.0,42.0" // roughly CA/NV/OR
    val some = spark.read.format("geojson").option("bbox", box)
      .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
    assert(some.count() > 0 && some.count() < full)
    val expected = us.where(expr(s"st_intersects_bbox(geometry, $box)")).count()
    assert(some.count() === expected)
    // spatial filter applies BEFORE offset/limit (GDAL semantics): limit
    // counts filtered features
    val limited = spark.read.format("geojson").option("bbox", box)
      .option("limit", "2")
      .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
    assert(limited.count() === 2)
  }

  // -------------------------------------------------------- Catalyst rule

  test("st_intersects_bbox filter is rewritten into the scan's bbox option") {
    val df = spark.read.format("flatgeobuf").load(fgbDir)
      .where(expr(s"st_intersects_bbox(geometry, $dcBox)"))
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.head.scan.description().contains("bbox=[-77.05"),
      s"rule did not inject bbox: ${scans.head.scan.description()}")
    // residual predicate still present → exact semantics
    assert(df.count() === 19)
    // no rewrite for non-geometry columns or non-bbox predicates
    val plain = spark.read.format("flatgeobuf").load(fgbDir).where(col("name").isNotNull)
    val s2 = plain.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(!s2.head.scan.description().contains("bbox="))
  }
}
