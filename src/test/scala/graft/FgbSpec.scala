package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.geom.GeomCodec
import graft.sources.flatgeobuf.FgbCodec

/** FlatGeobuf source (doc-claimed format #4, reference README.md:8) —
  * no reference fixture exists, so conformance is pinned by codec-level
  * checks plus full write→read round-trips. */
class FgbSpec extends AnyFunSuite {
  import TestSpark._

  test("codec: header and feature round-trip at the byte level") {
    val cols = Seq(FgbCodec.FgbColumn("name", FgbCodec.CtString),
      FgbCodec.FgbColumn("pop", FgbCodec.CtLong),
      FgbCodec.FgbColumn("area", FgbCodec.CtDouble),
      FgbCodec.FgbColumn("flag", FgbCodec.CtBool))
    val hb = FgbCodec.writeHeader("t", FgbCodec.GtPoint, cols, 7L,
      envelope = Some(graft.sources.flatgeobuf.FgbIndex.Box(-1.5, -2.5, 3.5, 4.5)))
    val h = FgbCodec.readHeader(hb.drop(4)) // strip size prefix
    assert(h.name === "t" && h.geometryType === FgbCodec.GtPoint)
    assert(h.featuresCount === 7L && h.indexNodeSize === 0)
    assert(h.columns === cols)
    assert(h.envelope === Some(graft.sources.flatgeobuf.FgbIndex.Box(-1.5, -2.5, 3.5, 4.5)))

    val g = GeomCodec.fromWkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 1 2, 1 1))")
    val fb = FgbCodec.writeFeature(g, cols, Seq("x", Long.box(42L), Double.box(2.5), Boolean.box(true)))
    val t = FgbCodec.rootTable(fb.drop(4))
    val geom = FgbCodec.readGeometry(
      new FgbCodec.FbTab(t.bb, t.indirect(0)), FgbCodec.GtUnknown)
    assert(geom.equalsExact(g))
    val (start, len) = t.vector(1)
    val vals = FgbCodec.unpackProperties(cols, fb.drop(4), start, len)
    assert(vals.toSeq === Seq("x", 42L, 2.5, true))
  }

  test("codec: index-skip size formula matches the packed R-tree shape") {
    assert(FgbCodec.indexSize(0, 16) === 0L)
    assert(FgbCodec.indexSize(10, 0) === 0L)
    // 10 items, node size 4: levels 10 -> 3 -> 1 = 14 nodes * 40B
    assert(FgbCodec.indexSize(10, 4) === 14L * 40L)
  }

  test("codec: MultiLineString is spec-form xy+ends, legacy parts still read") {
    val g = GeomCodec.fromWkt("MULTILINESTRING ((0 0, 1 1, 2 0), (5 5, 6 6))")
    val fb = FgbCodec.writeFeature(g, Seq.empty, Seq.empty)
    val t = FgbCodec.rootTable(fb.drop(4))
    val gt = new FgbCodec.FbTab(t.bb, t.indirect(0))
    // spec conformance: flat xy (5 pairs), ends [3, 5], NO nested parts
    assert(gt.vector(1) != null && gt.vector(1)._2 === 10, "expected flat xy vector")
    val (es, en) = gt.vector(0)
    assert((0 until en).map(i => gt.bb.getInt(es + 4 * i)) === Seq(3, 5))
    assert(gt.vector(7) === null, "MultiLineString must not nest parts tables")
    assert(FgbCodec.readGeometry(gt, FgbCodec.GtUnknown).equalsExact(g))

    // legacy fallback: a parts-nested MultiLineString (what this codec
    // wrote before spec alignment) must still decode
    val b = new com.google.flatbuffers.FlatBufferBuilder(256)
    val p1 = FgbCodec.writeGeometry(b, GeomCodec.fromWkt("LINESTRING (0 0, 1 1, 2 0)"))
    val p2 = FgbCodec.writeGeometry(b, GeomCodec.fromWkt("LINESTRING (5 5, 6 6)"))
    b.startVector(4, 2, 4); b.addOffset(p2); b.addOffset(p1)
    val pv = b.endVector()
    b.startTable(8)
    b.addByte(6, FgbCodec.GtMultiLineString.toByte, 0)
    b.addOffset(7, pv, 0)
    b.finish(b.endTable())
    val legacy = FgbCodec.rootTable(b.sizedByteArray())
    assert(FgbCodec.readGeometry(legacy, FgbCodec.GtUnknown).equalsExact(g))

    // neither xy nor parts -> loud error, not silent EMPTY
    val b2 = new com.google.flatbuffers.FlatBufferBuilder(64)
    b2.startTable(8)
    b2.addByte(6, FgbCodec.GtMultiLineString.toByte, 0)
    b2.finish(b2.endTable())
    val bad = FgbCodec.rootTable(b2.sizedByteArray())
    assertThrows[IllegalStateException] {
      FgbCodec.readGeometry(bad, FgbCodec.GtUnknown)
    }
  }

  test("flatgeobuf write -> read round trip across geometry types") {
    val s = spark; import s.implicits._
    val wkts = Seq(
      (1L, "alpha", 10.5, true, "POINT (1 2)"),
      (2L, "beta", -3.25, false, "LINESTRING (0 0, 1 1, 2 0)"),
      (3L, "gamma", 0.0, true, "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))"),
      (4L, "delta", 9.0, false, "MULTIPOINT ((0 0), (1 1))"),
      (5L, "epsilon", 1.5, true, "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))"),
      (6L, "zeta", 7.75, false,
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))"))
    val df = wkts.toDF("id", "name", "score", "flag", "wkt")
      .withColumn("geometry", expr("st_geomfromwkt(wkt)")).drop("wkt")
    graft.functions.GraftFunctions.register(spark)
    val out = TempDirs.untilExit("graft_fgb_").toString
    df.coalesce(1).write.format("flatgeobuf").mode("overwrite").save(out)

    val back = spark.read.format("flatgeobuf").load(out)
    assert(back.count() === 6)
    assert(back.schema("id").dataType === LongType)
    assert(back.schema("score").dataType === DoubleType)
    assert(back.schema("flag").dataType === BooleanType)
    assert(back.schema("geometry").dataType === BinaryType)
    val got = back.selectExpr("id", "name", "score", "flag", "st_aswkt(geometry)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getBoolean(3), r.getString(4))).sortBy(_._1)
    val want = wkts.map { case (i, n, sc, f, w) =>
      (i, n, sc, f, GeomCodec.toWkt(GeomCodec.fromWkt(w)))
    }
    assert(got.toSeq === want)
  }

  test("flatgeobuf: null geometry and null properties survive the round trip") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((1L, Some("a"), Some("POINT (0 0)")), (2L, None, None))
      .toDF("id", "name", "wkt")
      .withColumn("geometry", expr("st_geomfromwkt(wkt)")).drop("wkt")
    val out = TempDirs.untilExit("graft_fgbn_").toString
    df.coalesce(1).write.format("flatgeobuf").mode("overwrite").save(out)
    val rows = spark.read.format("flatgeobuf").load(out)
      .orderBy("id").collect()
    assert(rows.length === 2)
    assert(rows(1).isNullAt(rows(1).fieldIndex("name")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("geometry")))
  }
}
