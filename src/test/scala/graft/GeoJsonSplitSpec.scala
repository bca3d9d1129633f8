package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.Try

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SplitSpec
import graft.sources.geojson.GeoJsonSpans

/** The byte-level span scan that plans GeoJSON splits must plan exactly
  * what the Jackson token walk it replaced planned, on the fixtures and on
  * files built to trip a byte scanner, and must fail where that walk
  * failed: on a file that ends inside the features array. */
class GeoJsonSplitSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = TempDirs.untilExit("graft_geojson_split_")

  private def file(name: String, bytes: Array[Byte]): String = {
    val f = new File(dir, name)
    Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }
  private def text(name: String, s: String): String = file(name, s.getBytes(StandardCharsets.UTF_8))

  /** The planner the scan replaced: a Jackson token walk to the features
    * array, then `skipChildren` over each feature. */
  private def oracle(path: String, targetBytes: Long, splitRecords: Long): Seq[SplitSpec] = {
    def seekFeatures(parser: JsonParser): Boolean = {
      var inFeatures = false
      var t = parser.nextToken()
      if (t == JsonToken.START_ARRAY) inFeatures = true
      else {
        var depth = 0
        while (!inFeatures && t != null) {
          t = parser.nextToken()
          t match {
            case JsonToken.START_OBJECT | JsonToken.START_ARRAY => depth += 1
            case JsonToken.END_OBJECT | JsonToken.END_ARRAY => depth -= 1
            case JsonToken.FIELD_NAME if depth == 0 && parser.currentName == "features" =>
              if (parser.nextToken() == JsonToken.START_ARRAY) inFeatures = true
            case _ => ()
          }
        }
      }
      inFeatures
    }
    val parser = new ObjectMapper().getFactory.createParser(new File(path))
    try {
      if (!seekFeatures(parser)) return Seq(SplitSpec(path, 0L, -1L))
      val splits = scala.collection.mutable.ArrayBuffer.empty[SplitSpec]
      var chunkStart = -1L
      var chunkFirstIdx = 0L
      var chunkCount = 0L
      var idx = 0L
      var lastEnd = -1L
      var t = parser.nextToken()
      while (t == JsonToken.START_OBJECT) {
        val start = parser.currentTokenLocation().getByteOffset
        parser.skipChildren()
        lastEnd = parser.currentLocation().getByteOffset
        if (chunkStart < 0) { chunkStart = start; chunkFirstIdx = idx; chunkCount = 0L }
        chunkCount += 1
        if (lastEnd - chunkStart >= targetBytes || chunkCount >= splitRecords) {
          splits += SplitSpec(path, chunkFirstIdx, chunkCount, chunkStart, lastEnd)
          chunkStart = -1L
        }
        idx += 1
        t = parser.nextToken()
      }
      if (chunkStart >= 0)
        splits += SplitSpec(path, chunkFirstIdx, chunkCount, chunkStart, lastEnd)
      if (splits.isEmpty) Seq(SplitSpec(path, 0L, -1L)) else splits.toSeq
    } finally parser.close()
  }

  private val limits = Seq((32L << 20, 65536L), (1L, 65536L), (300L, 65536L), (32L << 20, 2L), (700L, 3L))

  private def assertSame(path: String): Unit =
    for ((target, records) <- limits)
      assert(GeoJsonSpans.splits(path, target, records) === oracle(path, target, records),
        s"$path target=$target records=$records")

  private val point = """{"type":"Point","coordinates":[1.5,-2.5]}"""
  private def feature(i: Int, props: String): String =
    s"""{"type":"Feature","id":$i,"geometry":$point,"properties":$props}"""

  /** Property objects that hold what a byte scanner can trip on. */
  private val tricky: Seq[String] = Seq(
    """{"a":"{[}]","b":"}}}]]]"}""",
    """{"q":"say \"hi\" {","bs":"c:\\dir\\","end":"\\\"}"}""",
    "{\"u\":\"\\u007b\\u005d\\u0022\\u005c\",\"e\":\"é日本😀\"}",
    """{"nested":[[1,[2,[3]]],[{"x":[]}]],"o":{"k":{"k":[{}]}}}""",
    """{"features":[{"type":"Feature"}],"type":"FeatureCollection"}""",
    """{}""",
    """{"n":null,"t":true,"f":false,"num":-1.5e-3}""")

  test("the fixtures plan the same splits") {
    for (f <- Seq("us_states.feature_collection.implicit_4326.json",
        "global_large_lakes.feature_collection.implicit_4326.json"))
      assertSame(new File(fixtures, f).getAbsolutePath)
  }

  test("strings, escapes and nesting that hold braces, brackets and quotes plan the same splits") {
    val fs = tricky.zipWithIndex.map { case (p, i) => feature(i, p) }
    val cases = Seq(
      "fc" -> s"""{"type":"FeatureCollection","features":[${fs.mkString(",")}]}""",
      // features not the first key, after members that hold a "features" key
      "late" -> s"""{"type":"FeatureCollection","meta":{"features":[1,2]},"bbox":[0,0,1,1],"name":"a\\"features","features":[${fs.mkString(",")}]}""",
      "bare" -> s"""[${fs.mkString(",")}]""",
      "crlf" -> s"""{"features":[\r\n${fs.mkString(",\r\n")}\r\n]}\r\n""",
      "spaces" -> s"""  {\n "features" : [ ${fs.mkString(" , ")} ] } """,
      "escaped-key" -> s"""{"feature\\u0073":[${fs.mkString(",")}]}""",
      "not-array" -> s"""{"features":"none","type":"FeatureCollection"}""",
      "empty" -> """{"type":"FeatureCollection","features":[]}""",
      "none" -> """{"type":"FeatureCollection"}""",
      "stops-at-non-object" -> s"""{"features":[${fs(0)},null,${fs(1)}]}""",
      "features-after-root" -> s"""{"a":1} {"features":[${fs(0)}]}""")
    for ((name, body) <- cases) assertSame(text(s"$name.geojson", body))
    val bom = file("bom.geojson", Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
      s"""{"features":[${fs.mkString(",")}]}""".getBytes(StandardCharsets.UTF_8))
    assertSame(bom)
    // a generated collection with thousands of features and a multi-buffer span
    val big = (0 until 3000).map(i => feature(i, tricky(i % tricky.length)))
    val long = feature(3000, s"""{"s":"${"x\\\"{" * 30000}"}""")
    assertSame(text("big.geojson", s"""{"type":"FeatureCollection","features":[${(big :+ long).mkString(",\n")}]}"""))
  }

  test("a file cut inside the array fails the plan and the query") {
    val fs = (0 until 20000).map(i => feature(i, s"""{"name":"feature $i ${"padding " * 60}","i":$i}"""))
    val whole = s"""{"type":"FeatureCollection","features":[${fs.mkString(",")}]}"""
    assert(whole.length > (8 << 20))
    val cuts = Seq(whole.length / 2, whole.indexOf(fs(100)) + fs(100).length, whole.length - 2)
    for (cut <- cuts) {
      val p = text(s"cut$cut.geojson", whole.substring(0, cut))
      assert(Try(oracle(p, 32L << 20, 65536L)).isFailure)
      assert(Try(GeoJsonSpans.splits(p, 32L << 20, 65536L)).isFailure, s"cut at $cut")
      val schema = StructType(Seq(StructField("i", LongType), StructField("geometry", BinaryType)))
      intercept[Exception](spark.read.format("geojson").schema(schema).load(p).collect())
    }
    // uncut, the same file plans byte-range splits and reads every feature
    val p = text("uncut.geojson", whole)
    val splits = new graft.sources.geojson.GeoJsonFormat().planSplits(p, graft.sources.GdalOptions.from(Map.empty))
    assert(splits === oracle(p, 32L << 20, 65536L) && splits.head.byteStart > 0)
    assert(spark.read.format("geojson").load(p).count() === 20000L)
  }
}
