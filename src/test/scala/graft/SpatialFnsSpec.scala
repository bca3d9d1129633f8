package graft

import org.scalatest.funsuite.AnyFunSuite

class SpatialFnsSpec extends AnyFunSuite {
  import TestSpark._

  test("spatial measures and predicates via SQL") {
    val rows = spark.sql(
      """SELECT
        | st_area(st_geomfromwkt('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))')) AS area,
        | st_length(st_geomfromwkt('LINESTRING (0 0, 3 4)')) AS len,
        | st_aswkt(st_centroid(st_geomfromwkt('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'))) AS ctr,
        | st_geometrytype(st_point(1.0D, 2.0D)) AS gt,
        | st_npoints(st_geomfromwkt('LINESTRING (0 0, 1 1, 2 2)')) AS np,
        | st_isvalid(st_geomfromwkt('POLYGON ((0 0, 1 1, 1 0, 0 1, 0 0))')) AS bowtie,
        | st_intersects(st_geomfromwkt('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'), st_point(2.0D, 2.0D)) AS hits,
        | st_contains(st_geomfromwkt('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'), st_point(2.0D, 2.0D)) AS cont,
        | st_within(st_point(2.0D, 2.0D), st_geomfromwkt('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')) AS within,
        | st_distance(st_point(0.0D, 0.0D), st_point(3.0D, 4.0D)) AS dist,
        | st_area(st_buffer(st_point(0.0D, 0.0D), 1.0D)) AS buf_area""".stripMargin).head
    assert(rows.getDouble(0) === 100.0)
    assert(rows.getDouble(1) === 5.0)
    assert(rows.getString(2) === "POINT (1 1)")
    assert(rows.getString(3) === "Point")
    assert(rows.getInt(4) === 3)
    assert(!rows.getBoolean(5)) // bowtie is invalid
    assert(rows.getBoolean(6) && rows.getBoolean(7) && rows.getBoolean(8))
    assert(rows.getDouble(9) === 5.0)
    // JTS buffer default is 8 segments/quadrant — area ≈ 3.121, not quite π
    assert(math.abs(rows.getDouble(10) - math.Pi) < 0.05)
  }

  test("st_buffer and st_simplify cast decimal and int literals to double") {
    val consts = spark.sql(
      """SELECT
        | st_area(st_buffer(st_point(0.0D, 0.0D), 0.05)) AS dec_buf,
        | st_area(st_buffer(st_point(0.0D, 0.0D), 1)) AS int_buf,
        | st_npoints(st_simplify(st_geomfromwkt('LINESTRING (0 0, 1 0.01, 2 0)'), 0.1)) AS dec_simp,
        | st_npoints(st_simplify(st_geomfromwkt('LINESTRING (0 0, 1 0.01, 2 0)'), 1)) AS int_simp
        |""".stripMargin).head
    assert(math.abs(consts.getDouble(0) - math.Pi * 0.0025) < 0.0001)
    assert(math.abs(consts.getDouble(1) - math.Pi) < 0.05)
    assert(consts.getInt(2) === 2 && consts.getInt(3) === 2)
    // the same calls over a column, through generated code
    val perRow = spark.range(3).selectExpr(
      "st_area(st_buffer(st_point(CAST(id AS DOUBLE), 0.0D), 0.05)) AS a",
      "st_npoints(st_simplify(st_geomfromwkt('LINESTRING (0 0, 1 0.01, 2 0)'), id + 1)) AS n")
      .collect()
    assert(perRow.forall(r => math.abs(r.getDouble(0) - math.Pi * 0.0025) < 0.0001))
    assert(perRow.forall(_.getInt(1) === 2))
  }

  test("spatial join: states containing city points") {
    val states = spark.read.format("geojson")
      .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
      .select(org.apache.spark.sql.functions.col("name"),
        org.apache.spark.sql.functions.col("geometry").as("state_geom"))
    val cities = graft.sources.arrow.ArrowRead.fromFile(spark, s"$fixtures/cities.arrow")
      .withColumnRenamed("geometry", "city_geom")
      .withColumnRenamed("name", "city")
    states.createOrReplaceTempView("sj_states")
    cities.createOrReplaceTempView("sj_cities")
    // broadcast NL join with an st_contains predicate (SURVEY §2.5 spatial row)
    val hits = spark.sql(
      """SELECT s.name AS state, c.city
        |FROM sj_states s JOIN sj_cities c
        |  ON st_contains(s.state_geom, c.city_geom)""".stripMargin).collect()
    // cities.arrow holds world capitals — the only one inside a US state
    // polygon is Washington, DC
    assert(hits.nonEmpty)
    assert(hits.map(_.getString(0)).toSet.contains("District of Columbia"))
    assert(hits.exists(_.getString(1).contains("Washington")))
  }

  test("tiled spatial join equals the brute-force join, without a nested loop") {
    import org.apache.spark.sql.functions._
    val states = spark.read.format("geojson")
      .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
      .select(col("name"), col("geometry"))
    val pts = spark.range(2000).select(
      (lit(-124.0) + (col("id") % 50).cast("double") * 1.14).as("lon"),
      (lit(25.0) + (col("id") / 50).cast("double") * 0.6).as("lat"))
      .withColumn("pt", expr("st_point(lon, lat)"))
    val tiled = graft.api.Graft.spatialJoinTiled(pts, states, "pt", "geometry", 2.0)
      .select(col("lon"), col("lat"), col("name"))
    // brute force: every point against every polygon
    val brute = pts.crossJoin(states)
      .filter(expr("st_contains(geometry, pt)"))
      .select(col("lon"), col("lat"), col("name"))
    val t = tiled.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getString(2))).sorted
    val b = brute.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getString(2))).sorted
    assert(t.nonEmpty && t.toSeq === b.toSeq)
    // the candidate path is an equality join on the cell key — never a
    // nested loop or cartesian over the full inputs
    val plan = tiled.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"), plan)
  }

  test("envelope scalars, simplify, convex hull, binary union") {
    val r = spark.sql(
      """SELECT
        | st_xmin(g) AS x0, st_ymin(g) AS y0, st_xmax(g) AS x1, st_ymax(g) AS y1,
        | st_npoints(st_simplify(st_geomfromwkt('LINESTRING (0 0, 1 0.01, 2 0, 3 0.01, 4 0)'), 0.1D)) AS simp,
        | st_aswkt(st_convexhull(st_geomfromwkt('MULTIPOINT ((0 0), (4 0), (2 1), (2 4))'))) AS hull,
        | st_npoints(st_union(st_point(0.0D, 0.0D), st_point(1.0D, 1.0D))) AS uni
        |FROM (SELECT st_geomfromwkt('POLYGON ((1 2, 5 2, 5 7, 1 7, 1 2))') AS g)""".stripMargin).head
    assert((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) === ((1.0, 2.0, 5.0, 7.0)))
    assert(r.getInt(4) === 2) // wiggles under tolerance collapse to the endpoints
    assert(r.getString(5).startsWith("POLYGON"))
    assert(r.getInt(6) === 2)
  }

  test("st_union_agg: typed Aggregator unions per group, stable under repartition") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      ("a", "POINT (0 0)"), ("a", "POINT (1 1)"), ("a", "POINT (1 1)"),
      ("b", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
      ("b", "POLYGON ((1 0, 3 0, 3 2, 1 2, 1 0))"))
      .toDF("k", "wkt")
      .selectExpr("k", "st_geomfromwkt(wkt) AS g")
    def agg(partitions: Int) = df.repartition(partitions)
      .groupBy($"k")
      .agg(org.apache.spark.sql.functions.expr("st_union_agg(g)").as("u"))
      .selectExpr("k", "st_geometrytype(u) AS t", "st_area(u) AS area",
        "st_npoints(u) AS np")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._1)
    val one = agg(1)
    // union dedups the repeated point; overlapping squares merge to area 6
    assert(one(0)._2 === "MultiPoint" && one(0)._4 === 2)
    assert(one(1)._2 === "Polygon" && one(1)._3 === 6.0)
    // partial-merge path (multiple partitions) gives the same answer
    assert(agg(4).toSeq === one.toSeq)
  }

  test("st_parts decomposes multi-geometries; explode gives one row per part") {
    val s = spark; import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val df = Seq(
      ("m", "MULTIPOINT ((1 2), (3 4), (5 6))"),
      ("p", "POINT (9 9)"),
      // nested collection: ST_Dump semantics recurse to SIMPLE parts
      ("n", "GEOMETRYCOLLECTION (MULTIPOINT ((1 1), (2 2)), POINT (3 3))"))
      .toDF("k", "wkt")
      .selectExpr("k", "st_geomfromwkt(wkt) AS g")
    val parts = df.selectExpr("k", "explode(st_parts(g)) AS part")
      .selectExpr("k", "st_aswkt(part) AS wkt").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted
    assert(parts === Array(
      ("m", "POINT (1 2)"), ("m", "POINT (3 4)"), ("m", "POINT (5 6)"),
      ("n", "POINT (1 1)"), ("n", "POINT (2 2)"), ("n", "POINT (3 3)"),
      ("p", "POINT (9 9)")))
  }

  test("quadkey tiling: bit interleave is exact and covers every point once") {
    val s = spark
    val out = graft.SparkEntry.queries("q186_quadkey_tiles")(s, "").collect()
    assert(out.map(_.getLong(3)).sum === 8192L)
    assert(out.forall(_.getString(0).matches("[0-3]{6}")))
    // hand-computed: tile (tx=9, ty=23) -> tx bits 001001, ty bits 010111
    // -> digits 0,2,1,2,2,3
    val t923 = out.find(r => r.getLong(1) == 9L && r.getLong(2) == 23L).get
    assert(t923.getString(0) === "021223")
    // sibling tiles at the same ty share the 4-digit prefix iff they sit
    // in the same level-4 parent (tx 8..9 with ty 23 differ only in the
    // last two digits from tx 10..11)
    val byTile = out.map(r => ((r.getLong(1), r.getLong(2)), r.getString(0))).toMap
    for (txa <- 8L to 11L; txb <- 8L to 11L
         if byTile.contains((txa, 23L)) && byTile.contains((txb, 23L))) {
      val same4 = (txa / 4) == (txb / 4)
      assert((byTile((txa, 23L)).take(4) == byTile((txb, 23L)).take(4)) == same4,
        s"tx=$txa vs tx=$txb")
    }
  }

  test("web mercator chain lands on the published EPSG:3857 anchors") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val R = 6378137.0
    val df = Seq((0.0, 0.0), (180.0, 0.0), (0.0, 85.05112878))
      .toDF("lon", "lat")
      .select(
        round(col("lon") * lit(math.Pi / 180.0) * lit(R), 3).as("x"),
        round(log(tan(col("lat") * lit(math.Pi / 360.0) +
          lit(math.Pi / 4.0))) * lit(R), 3).as("y"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(df(0) === ((0.0, 0.0)))
    assert(math.abs(df(1)._1 - 20037508.343) < 1e-3)     // antimeridian x
    assert(math.abs(df(2)._2 - 20037508.343) < 0.5)      // square-world lat
  }
}
