package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FeatureFormat, FeaturePartition, GdalOptions, GraftError, SplitSpec}
import graft.sources.flatgeobuf.FgbFormat

/** What a small request pays for besides its rows: bbox windows share one
  * compiled class, a FlatGeobuf bbox read groups its index hits into
  * `splitRecords`-sized splits, and `toBytes` of an empty frame fails at
  * the write's own job commit. */
class RequestCostSpec extends AnyFunSuite {
  import TestSpark._

  // ------------------------------------------------------------ codegen

  private lazy val points: DataFrame = spark.range(0, 200)
    .select(col("id"), call_function("st_point", (col("id") % 20).cast("double"),
      (col("id") / 20).cast("long").cast("double")).as("geometry"))

  private def window(df: DataFrame, b: Seq[Double]): DataFrame =
    df.filter(call_function("st_intersects_bbox", col("geometry") +: b.map(lit): _*))

  private def stageSources(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w.doCodeGen()._2.body }

  test("windows with different boxes over one frame generate identical source") {
    val a = window(points, Seq(0.0, 0.0, 5.0, 5.0))
    val b = window(points, Seq(2.5, 1.0, 17.25, 8.5))
    assert(stageSources(a).nonEmpty)
    assert(stageSources(a) === stageSources(b))
    assert(a.count() === 36 && b.count() === 120)
  }

  test("a window with infinite bounds compiles: it runs with the codegen fallback off") {
    val key = "spark.sql.codegen.fallback"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val inf = Double.PositiveInfinity
      assert(window(points, Seq(-inf, -inf, inf, inf)).count() === 200)
      assert(window(points, Seq(-inf, 3.0, 4.0, inf)).count() === 5 * 7)
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // ------------------------------------------------- FlatGeobuf grouping

  private lazy val stationsFgb: String = {
    val out = TempDirs.untilExit("graft_rc_stations").getPath
    spark.read.format("shapefile").load(s"$fixtures/stations.shp")
      .coalesce(1).write.format("flatgeobuf").mode("overwrite").save(out)
    FeatureFormat.expand(Seq(out), new FgbFormat).head
  }

  /** 10k points scattered over [0, 1000)², with attributes. */
  private lazy val generatedFgb: String = {
    val out = TempDirs.untilExit("graft_rc_points").getPath
    spark.range(0, 10000)
      .select(col("id"), (col("id") % 7).cast("string").as("tag"),
        call_function("st_point", ((col("id") * 7919) % 1000).cast("double"),
          ((col("id") * 104729 + 13) % 997).cast("double")).as("geometry"))
      .coalesce(1).write.format("flatgeobuf").mode("overwrite").save(out)
    FeatureFormat.expand(Seq(out), new FgbFormat).head
  }

  /** Each feature as (fid, props, WKB), in read order. */
  private def rows(f: FgbFormat, specs: Seq[SplitSpec], opts: GdalOptions): Seq[(Long, String, Seq[Byte])] =
    specs.flatMap { sp =>
      val it = f.openSplit(sp, opts)
      try it.map(r => (r.fid, r.props.toString, r.geomWkb.toSeq)).toList finally it.close()
    }

  private def checkGrouping(path: String, boxes: Seq[String]): Unit = {
    val f = new FgbFormat
    for (box <- boxes; per <- Seq(Some(1L), Some(2L), Some(7L), None)) {
      val opts = GdalOptions.from(Map("bbox" -> box) ++ per.map(p => "splitRecords" -> p.toString))
      // the index-less streamed filter: one whole-file split tests every feature
      val streamed = rows(f, Seq(SplitSpec(path, 0L, -1L)), opts)
      val splits = f.planSplits(path, opts)
      val limit = per.getOrElse(65536L)
      assert(splits.forall(sp => sp.numRecords >= 1 && sp.numRecords <= limit), s"$box by $per")
      assert(splits.forall(sp => sp.runs.map(_._2).sum == sp.numRecords), s"$box by $per")
      assert(splits.map(_.numRecords).sum === streamed.size.toLong, s"$box by $per")
      assert(rows(f, splits, opts) === streamed, s"$box by $per")
      if (per.isEmpty) assert(splits.size <= 1, s"$box: ${splits.size} splits")
    }
  }

  test("stations FGB: split groups hold at most splitRecords hits and read the streamed filter's rows") {
    checkGrouping(stationsFgb, Seq("-77.05,38.88,-76.99,38.92", "-77.2,38.8,-76.9,39.0",
      "-180,-90,180,90", "-77.0,38.9,-77.0,38.9"))
  }

  test("generated 10k-point FGB: split groups at several window sizes") {
    checkGrouping(generatedFgb, Seq("100,100,131.6,131.6", "400,250,500,350", "0,0,316,316",
      "500,0,1000,997", "-1,-1,1001,1001"))
  }

  test("a small window over the 10k-point FGB is one Spark partition") {
    val df = spark.read.format("flatgeobuf").option("bbox", "400,250,500,350").load(generatedFgb)
    val scan = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    val planned = scan.inputPartitions.collect { case FeaturePartition(sp, _) => sp }
    assert(planned.size === 1 && planned.head.runs.size > 1)
    assert(df.count() === planned.head.numRecords)
  }

  // ------------------------------------------------------------ toBytes

  private def bytesDirs(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list()).toSeq.flatten
      .filter(_.startsWith("graft_bytes_out_")).toSet

  for (fmt <- Seq("geojson", "csvgeo", "shapefile", "flatgeobuf", "spatialite", "gpkg",
      "kml", "gml", "gpx", "geojsonseq", "arrow")) {
    test(s"toBytes($fmt) of an empty frame throws EmptyDataframe and leaves no temp dir") {
      val empty = spark.read.format("shapefile").load(s"$fixtures/stations.shp").filter(lit(false))
      val before = bytesDirs()
      intercept[GraftError.EmptyDataframe](GdalWrite.toBytes(empty, format = fmt))
      assert(bytesDirs() -- before === Set.empty[String])
    }
  }
}
