package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

class CsvGeoWriteSpec extends AnyFunSuite {
  import TestSpark._

  test("csvgeo write -> read round trip with WKT geometry column") {
    val out = TempDirs.untilExit("graft_csvw_").toString
    val src = spark.read.format("csvgeo").load(s"$fixtures/lat_lon_countries.csv")
    src.coalesce(2).write.format("csvgeo").mode("overwrite").save(out)
    val back = spark.read.format("csvgeo").load(out)
    assert(back.count() === 240)
    assert(back.schema("geometry").dataType === BinaryType)
    back.createOrReplaceTempView("rt_countries")
    val ad = spark.sql(
      "SELECT st_x(geometry), st_y(geometry) FROM rt_countries WHERE Country = 'Andorra'").head
    assert(ad.getDouble(0) === 1.5 && ad.getDouble(1) === 42.5)
  }

  test("csvgeo write: quoting of commas and quotes survives round trip") {
    val s = spark
    import s.implicits._
    import graft.functions.GraftFunctions._
    val out = TempDirs.untilExit("graft_csvq_").toString
    val df = Seq(("has,comma", 1.0, 2.0), ("has\"quote", 3.0, 4.0))
      .toDF("label", "lon", "lat")
      .withColumn("geometry", st_point($"lon", $"lat"))
    df.write.format("csvgeo").mode("overwrite").save(out)
    val back = spark.read.format("csvgeo").load(out)
    val labels = back.select("label").collect().map(_.getString(0)).sorted
    assert(labels.toSeq === Seq("has\"quote", "has,comma"))
  }
}
