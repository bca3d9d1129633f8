package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class GeoJsonSeqSpec extends AnyFunSuite {
  import TestSpark._

  test("geojsonseq: write then read back across partitions") {
    val out = TempDirs.untilExit("graft_seq_").toString
    val src = spark.read.format("geojson")
      .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
      .select("name", "iso_3166_2", "scalerank", "geometry")
    src.repartition(4).write.format("geojsonseq").mode("overwrite").save(out)
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".geojsonl")) === 4)
    val back = spark.read.format("geojsonseq").load(out)
    assert(back.count() === 51)
    assert(back.schema("scalerank").dataType === IntegerType)
    val names = back.select("name").collect().map(_.getString(0)).sorted
    assert(names.length === 51 && names.contains("Minnesota"))
  }

  test("geojsonseq: filters and limit flow through the scan") {
    val out = TempDirs.untilExit("graft_seq2_").toString
    spark.read.format("geojson")
      .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
      .select("name", "geometry")
      .coalesce(1).write.format("geojsonseq").mode("overwrite").save(out)
    val one = spark.read.format("geojsonseq").load(out)
      .filter(org.apache.spark.sql.functions.col("name").startsWith("Minn"))
    assert(one.collect().map(_.getString(0)).toSeq === Seq("Minnesota"))
  }

  test("geojsonseq bytes-out round trip (newline-delimited)") {
    val src = spark.read.format("geojson")
      .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
      .select("name", "geometry").limit(3)
    val bytes = graft.GdalWrite.toBytes(src, format = "geojsonseq")
    val text = new String(bytes, "UTF-8")
    assert(text.linesIterator.count(_.nonEmpty) === 3) // one feature per line
    val round = graft.GdalRead.fromBytes(spark, bytes, Some("round.geojsonl"))
    assert(round.count() === 3)
  }
}
