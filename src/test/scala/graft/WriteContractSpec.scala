package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.geom.GeomCodec
import graft.sources.GraftError

/** The write contract every DSv2 file writer keeps, one table over the ten
  * writable formats: EmptyDataframe, the geometry-column checks on the
  * driver, append of a named layer, overwrite, no attempt debris, and
  * `geometryFormat` on a string geometry column. */
class WriteContractSpec extends AnyFunSuite {
  import TestSpark._

  /** Format name and the extension of its main part file. */
  private val formats = Seq(
    "geojson" -> ".geojson", "geojsonseq" -> ".geojsonl", "csvgeo" -> ".csv",
    "shapefile" -> ".shp", "flatgeobuf" -> ".fgb", "gpkg" -> ".gpkg",
    "spatialite" -> ".sqlite", "kml" -> ".kml", "gml" -> ".gml", "gpx" -> ".gpx")

  private lazy val stations = spark.read.format("shapefile").load(s"$fixtures/stations.shp")

  private def chain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

  /** Every file or directory under `dir` named like an attempt file. */
  private def debris(dir: File): List[String] = {
    val paths = java.nio.file.Files.walk(dir.toPath)
    try paths.iterator.asScala.map(_.getFileName.toString).filter(_.endsWith(".inprogress")).toList
    finally paths.close()
  }

  private def parts(dir: File, ext: String): Int =
    dir.listFiles().count(_.getName.endsWith(ext))

  for ((fmt, ext) <- formats) {
    test(s"$fmt: an empty frame raises EmptyDataframe") {
      val out = TempDirs.untilExit(s"graft_wc_empty_$fmt")
      val e = intercept[Exception] {
        stations.filter(lit(false)).write.format(fmt).mode("overwrite").save(out.getPath)
      }
      assert(chain(e).exists(_.isInstanceOf[GraftError.EmptyDataframe]), e)
    }

    test(s"$fmt: geometry-column errors are raised on the driver, before any task") {
      val out = TempDirs.untilExit(s"graft_wc_geom_$fmt").getPath
      // thrown by the driver-side write setup itself: a task failure would
      // reach the caller wrapped in a SparkException
      val missing = intercept[Exception] {
        stations.drop("geometry").write.format(fmt).mode("overwrite").save(out)
      }
      assert(missing.isInstanceOf[GraftError.CannotFindGeometryColumn], missing)
      val wrong = intercept[Exception] {
        stations.withColumn("geometry", lit(1)).write.format(fmt).mode("overwrite").save(out)
      }
      assert(wrong.isInstanceOf[GraftError.GeometryColumnWrongType], wrong)
    }

    test(s"$fmt: append adds a named layer, keeps the earlier rows and refuses a taken layer") {
      val out = TempDirs.untilExit(s"graft_wc_append_$fmt")
      stations.limit(5).coalesce(1).write.format(fmt).mode("overwrite").save(out.getPath)
      stations.limit(3).coalesce(1).write.format(fmt).mode("append")
        .option("layerName", "second").save(out.getPath)
      assert(spark.read.format(fmt).load(out.getPath).count() === 8)
      assert(out.listFiles().map(_.getName).count(_.startsWith("second-")) >= 1)
      val e = intercept[Exception] {
        stations.limit(1).write.format(fmt).mode("append")
          .option("layerName", "second").save(out.getPath)
      }
      assert(chain(e).exists(c => c.getMessage != null && c.getMessage.contains("already exists")), e)
      assert(spark.read.format(fmt).load(out.getPath).count() === 8)
      assert(debris(out).isEmpty, debris(out))
    }

    test(s"$fmt: overwrite removes the earlier parts and leaves no attempt files") {
      val out = TempDirs.untilExit(s"graft_wc_over_$fmt")
      stations.repartition(3).write.format(fmt).mode("overwrite").save(out.getPath)
      assert(parts(out, ext) === 3)
      stations.limit(4).coalesce(1).write.format(fmt).mode("overwrite").save(out.getPath)
      assert(parts(out, ext) === 1)
      assert(spark.read.format(fmt).load(out.getPath).count() === 4)
      assert(debris(out).isEmpty, debris(out))
    }

    test(s"$fmt: an overwrite that fails keeps the earlier files byte for byte") {
      val out = TempDirs.untilExit(s"graft_wc_keep_$fmt")
      def files(d: File): Seq[(String, Seq[Byte])] = d.listFiles().toSeq.sortBy(_.getName)
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq)
      stations.repartition(2).write.format(fmt).mode("overwrite").save(out.getPath)
      val before = files(out)
      assert(before.count(_._1.endsWith(ext)) === 2)
      val e = intercept[Exception] {
        stations.filter("false").write.format(fmt).mode("overwrite").save(out.getPath)
      }
      assert(chain(e).exists(_.isInstanceOf[GraftError.EmptyDataframe]), e)
      assert(files(out) === before)
      // an overwrite that succeeds writes the parts a write to a new directory does
      val fresh = TempDirs.untilExit(s"graft_wc_fresh_$fmt")
      stations.limit(6).coalesce(1).write.format(fmt).mode("overwrite").save(fresh.getPath)
      stations.limit(6).coalesce(1).write.format(fmt).mode("overwrite").save(out.getPath)
      assert(files(out) === files(fresh))
    }

    test(s"$fmt: geometryFormat=geojson reads a GeoJSON string geometry column") {
      // GPX takes points only
      def load(opts: Map[String, String]): DataFrame =
        if (fmt == "gpx") spark.read.format("shapefile").options(opts).load(s"$fixtures/stations.shp")
        else spark.read.format("geojson").options(opts)
          .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
      // a shapefile stores shells clockwise (the GeoJSON source has them
      // counter-clockwise), so its rings compare in normal form
      def wkts(df: DataFrame): Seq[String] =
        df.selectExpr("st_aswkt(geometry)").collect().map(_.getString(0))
          .map(w => if (fmt == "shapefile") GeomCodec.fromWkt(w).norm().toText else w)
          .sorted.toSeq
      val source = load(Map.empty)
      val text = load(Map("geometryFormat" -> "geojson"))
      assert(text.schema("geometry").dataType === org.apache.spark.sql.types.StringType)
      val out = TempDirs.untilExit(s"graft_wc_gjf_$fmt").getPath
      text.write.format(fmt).mode("overwrite").option("geometryFormat", "geojson").save(out)
      assert(wkts(spark.read.format(fmt).load(out)) === wkts(source))
    }
  }
}
