package graft.operators

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import Util.Q

/** The GDAL-parity source surface as driver-visible query entries (S1-S6,
  * P2, §2.7 of SURVEY.md). These read the committed GDAL fixtures
  * ([[graft.Fixtures]]; FIXTURES.md §A) through our DSv2 sources and
  * geometry expressions. DuckDB here has no spatial/GDAL support, so each
  * entry's oracle is DuckDB re-reading the same fixture or written files
  * (read_json/read_csv/read_parquet), or a golden CSV from an independent
  * Python parse of the fixture (tools/make_golden_*.py); value-level
  * assertions also live in SourcesSpec/ArrowMultimodalSpec. */
object GdalQueries {
  private val fixtures = graft.Fixtures.dir
  // declared before the oracle map that interpolates them (object init order)
  private val golden = s"${graft.Fixtures.golden}/stations.csv"
  private val goldenStates = s"${graft.Fixtures.golden}/us_states_geom.csv"
  private val goldenGridJoin = s"${graft.Fixtures.golden}/us_states_gridjoin.csv"
  private val goldenComuni = s"${graft.Fixtures.golden}/comuni.csv"

  /** Deterministic GML twin of the stations shapefile, written once per
    * JVM (so the `gdal_read_gml` entry times only the StAX read) through
    * the REAL GML writer — the fixture exercises the same serialization
    * the write path ships, not a hand-rolled twin that could drift. */
  private val gmlFixtureLock = new Object
  @volatile private var gmlFixtureDone = false
  private def ensureGmlFixture(s: org.apache.spark.sql.SparkSession): String = {
    // process-unique path: the per-JVM done-flag is a complete guard only
    // if no OTHER JVM (bench + tests concurrently) shares the directory —
    // with the PID in the name, a half-written fixture is never visible
    // across processes
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q_stations_gml_${ProcessHandle.current().pid()}"
    if (!gmlFixtureDone) gmlFixtureLock.synchronized {
      if (!gmlFixtureDone) {
        graft.TempDirs.deleteAtExit(new java.io.File(path))
        GraftFunctions.register(s)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("name"), col("x"))
        s.read.format("shapefile").load(s"$fixtures/stations.shp")
          .select(col("name"),
            GraftFunctions.st_x(col("geometry")).as("x"),
            GraftFunctions.st_y(col("geometry")).as("y"))
          .withColumn("gml_id",
            concat(lit("s"), (row_number().over(w) - 1).cast("string")))
          .select(col("gml_id"), col("name"),
            GraftFunctions.st_point(col("x"), col("y")).as("geometry"))
          .coalesce(1)
          .write.format("gml").option("layerName", "station")
          .mode("overwrite").save(path)
        gmlFixtureDone = true
      }
    }
    path
  }

  val queries: Map[String, Q] = Map(
    // ORACLE-CHECKED: attributes via DuckDB's own read_json re-read
    // (gdal_read_geojson_attrs pins those), and the GEOMETRY facts —
    // parsed type + exact vertex count through the JSON→JTS→WKB chain —
    // via an independent JSON-walking golden
    // (tools/make_golden_us_states.py; every fixture ring is closed, so
    // raw coordinate counts equal st_npoints).
    "gdal_read_geojson" -> ((s, _) => {
      GraftFunctions.register(s)
      s.read.format("geojson")
        .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
        .select(col("name"), col("iso_3166_2"),
          GraftFunctions.st_geometrytype(col("geometry")).as("gtype"),
          GraftFunctions.st_npoints(col("geometry")).as("npoints"))
        .orderBy(col("name"))
    }),

    // ORACLE-CHECKED via the golden CSV (tools/make_golden_stations.py —
    // an independent struct-unpack parse of the same .shp/.dbf committed
    // to src/test/resources/golden): name, symbol, and the EXACT IEEE
    // coordinates through the WKB → st_x/st_y round trip must hash-match
    // DuckDB re-reading the golden file.
    "gdal_read_shapefile" -> ((s, _) => {
      GraftFunctions.register(s)
      s.read.format("shapefile").load(s"$fixtures/stations.shp")
        .select(col("name"), col("marker-sym"),
          GraftFunctions.st_x(col("geometry")).as("x"),
          GraftFunctions.st_y(col("geometry")).as("y"))
        .orderBy(col("name"), col("x"))
    }),

    // The reference's own SpatiaLite read test (src/test.rs:37-39): the
    // `comuni` municipal-boundary table, streamed from the SQLite b-tree
    // with layerName selection (13 rows of MULTIPOLYGONs).
    // ORACLE-CHECKED: Python's stdlib sqlite3 + a from-the-spec geometry
    // blob parse (tools/make_golden_spatialite.py — no shared code with
    // the Scala b-tree reader or JTS) recomputes every type, vertex
    // count, and area-weighted centroid; the fixture has duplicate-code
    // rows, so fid is the tie-break in both orderings.
    "gdal_read_spatialite" -> ((s, _) => {
      GraftFunctions.register(s)
      s.read.format("spatialite")
        .option("layerName", "comuni")
        .option("fidColumnName", "fid")
        .load(s"$fixtures/test_spatialite.sqlite")
        .select(col("fid"), col("code"), col("name"),
          GraftFunctions.st_geometrytype(col("geometry")).as("gtype"),
          GraftFunctions.st_npoints(col("geometry")).as("npoints"),
          round(GraftFunctions.st_x(GraftFunctions.st_centroid(col("geometry"))), 1).as("cx"),
          round(GraftFunctions.st_y(GraftFunctions.st_centroid(col("geometry"))), 1).as("cy"))
        .orderBy(col("code"), col("fid"))
    }),

    // Attribute projection of the GeoJSON read, ORACLE-CHECKED: DuckDB
    // re-reads the same fixture with read_json and must produce identical
    // property values — upgrading the source-read path (S1/S3/P1 property
    // conversion) from rows-only to hash-matched. Geometry columns stay in
    // the rows-only entries above (DuckDB here has no spatial support).
    "gdal_read_geojson_attrs" -> ((s, _) => {
      s.read.format("geojson")
        .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
        .select(col("name"), col("iso_3166_2"), col("postal"))
        .orderBy(col("name"))
    }),

    "gdal_read_csvgeo" -> ((s, _) => {
      GraftFunctions.register(s)
      s.read.format("csvgeo").load(s"$fixtures/lat_lon_countries.csv")
        .select(col("Country"),
          GraftFunctions.st_x(col("geometry")).as("lon"),
          GraftFunctions.st_y(col("geometry")).as("lat"))
        .orderBy(col("Country"))
    }),

    // ---- gdal_webmercator: WGS84 → Web Mercator (EPSG:3857) — the one
    // CRS transform every web-map pipeline needs, as pure column math
    // (x = R·λ, y = R·ln tan(π/4 + φ/2); no PROJ/GDAL): the reference
    // delegates reprojection to GDAL, this engine computes the dominant
    // case in-plan. Constants are Scala-interpolated into BOTH engines;
    // meters rounded to mm so sub-ulp libm differences cannot surface.
    // Poles clamp (|φ| ≥ 90 is outside the projection's domain). ----
    "gdal_webmercator" -> ((s, _) => {
      GraftFunctions.register(s)
      val R = 6378137.0
      val df = s.read.format("csvgeo").load(s"$fixtures/lat_lon_countries.csv")
        .select(col("Country"),
          GraftFunctions.st_x(col("geometry")).as("lon"),
          GraftFunctions.st_y(col("geometry")).as("lat"))
      // `+ 0.0` on BOTH engines collapses IEEE signed zero: the lat=0 row
      // gives y ≈ −7e-10, which DuckDB's ROUND keeps as −0.0 while
      // Spark's BigDecimal round emits +0.0 (−0.0 + 0.0 = +0.0 in IEEE).
      df.filter(abs(col("lat")) < 89.9999)
        .select(col("Country"),
          (round(col("lon") * lit(math.Pi / 180.0) * lit(R), 3) + lit(0.0)).as("x_3857"),
          (round(log(tan(col("lat") * lit(math.Pi / 360.0) +
            lit(math.Pi / 4.0))) * lit(R), 3) + lit(0.0)).as("y_3857"))
        .orderBy(col("Country"))
    }),

    // Cross-format conversion: the stations shapefile fixture
    // written as FlatGeobuf through our writer, read back through our
    // reader — pins both halves of the format every round.
    // Spatial-filter pushdown: st_intersects_bbox over an indexed
    // FlatGeobuf file. The BboxPushdownRule turns the predicate into the
    // scan's bbox option, the packed Hilbert R-tree plans byte-range
    // splits over matching features only, and the residual predicate
    // keeps exact semantics. SourcesSpec asserts the plan shape (pushed
    // bbox in the scan description, fewer features read); this entry pins
    // the result set every round.
    // ORACLE-CHECKED (golden CSV): for points the envelope test IS the
    // exact test, so DuckDB filtering the golden coordinates with the
    // same inclusive bbox fully oracles the R-tree-pruned read.
    "gdal_read_fgb_bbox" -> ((s, _) => {
      GraftFunctions.register(s)
      val out = graft.TempDirs.untilExit("graft_q_fgbbox_").toString
      s.read.format("shapefile").load(s"$fixtures/stations.shp")
        .write.format("flatgeobuf").mode("overwrite").save(out)
      s.read.format("flatgeobuf").load(out)
        .where(expr("st_intersects_bbox(geometry, -77.05, 38.88, -76.99, 38.92)"))
        .select(col("name"), col("marker-sym"),
          GraftFunctions.st_x(col("geometry")).as("x"),
          GraftFunctions.st_y(col("geometry")).as("y"))
        .orderBy(col("name"), col("x"))
    }),

    // Geometry aggregation: per-grid-cell extent (0.1° spatial binning —
    // the classic distributed roll-up) via fully-codegen'd
    // min/max(st_xmin…) scalars (partial-agg, no custom state) plus the
    // st_union_agg typed Aggregator (executor-side partial unions).
    // ORACLE-CHECKED (golden CSV): min/max of IEEE doubles are exact, the
    // JTS union of distinct points is a MultiPoint of all of them, so a
    // DuckDB group-by over the golden coordinates rebuilds every column.
    "gdal_spatial_extent" -> ((s, _) => {
      GraftFunctions.register(s)
      s.read.format("shapefile").load(s"$fixtures/stations.shp")
        .withColumn("cell", concat(
          floor(expr("st_xmin(geometry)") * 10).cast("long"), lit("_"),
          floor(expr("st_ymin(geometry)") * 10).cast("long")))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          min(expr("st_xmin(geometry)")).as("xmin"),
          min(expr("st_ymin(geometry)")).as("ymin"),
          max(expr("st_xmax(geometry)")).as("xmax"),
          max(expr("st_ymax(geometry)")).as("ymax"),
          expr("st_npoints(st_union_agg(geometry))").as("n_union_points"),
          expr("st_geometrytype(st_union_agg(geometry))").as("union_type"))
        .orderBy(col("cell"))
    }),


    // ORACLE-CHECKED (golden CSV): shapefile → FGB writer → FGB reader
    // must reproduce the independently-parsed attributes and EXACT IEEE
    // coordinates, putting both halves of the format under the hash gate.
    "gdal_convert_shapefile_to_fgb" -> ((s, _) => {
      GraftFunctions.register(s)
      val out = graft.TempDirs.untilExit("graft_q_fgb_").toString
      s.read.format("shapefile").load(s"$fixtures/stations.shp")
        .write.format("flatgeobuf").mode("overwrite").save(out)
      s.read.format("flatgeobuf").load(out)
        .select(col("name"), col("marker-sym"),
          GraftFunctions.st_x(col("geometry")).as("x"),
          GraftFunctions.st_y(col("geometry")).as("y"))
        .orderBy(col("name"), col("x"))
    }),

    // GML read (the WFS/INSPIRE interchange XML): the stations fixture
    // re-expressed as a deterministic GML FeatureCollection, streamed
    // through the StAX reader. The fixture is materialized ONCE per JVM
    // (it derives deterministically from the stations shapefile), so
    // bench sweeps time only the StAX read — not fixture synthesis.
    // ORACLE-CHECKED (golden CSV): gml_id is the (name, x) rank, and the
    // coordinates survive text → double → text → double bit-exactly
    // (shortest-round-trip formatting on both sides).
    "gdal_read_gml" -> ((s, _) => {
      GraftFunctions.register(s)
      s.read.format("gml").load(ensureGmlFixture(s))
        .select(col("gml_id"), col("name"),
          GraftFunctions.st_x(col("geometry")).as("x"),
          GraftFunctions.st_y(col("geometry")).as("y"))
        .orderBy(col("name"), col("x"))
    }),

    // GeoParquet round trip, ORACLE-CHECKED: the shapefile fixture is
    // written as GeoParquet (parquet-mr per partition, `geo` footer
    // metadata) to a FIXED path, read back through Spark's native parquet
    // scan, and DuckDB independently re-reads the SAME files with
    // read_parquet — properties AND raw WKB geometry bytes (hex) are
    // hash-compared, so the writer's pages/footers and the read path are
    // value-verified by a second engine, not just round-tripped. ----
    "gdal_geoparquet_roundtrip" -> ((s, _) => {
      GraftFunctions.register(s)
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_q_geoparquet"
      val src = s.read.format("shapefile").load(s"$fixtures/stations.shp")
        .select(col("name"), col("marker-sym"), col("geometry"))
      graft.sources.geoparquet.GeoParquet.write(src, out)
      graft.sources.geoparquet.GeoParquet.read(s, out)
        .select(col("name"), col("marker-sym"),
          hex(col("geometry")).as("wkb_hex"))
        .orderBy(col("name"), col("wkb_hex"))
    }),

    // GeoParquet covering-bbox read, ORACLE-CHECKED: stations written
    // WITH the spec v1.1 covering bbox struct, then read through the
    // bbox-pruned path (double-leaf pushdown + exact residual). Points
    // make envelope == exact, so DuckDB re-reading the same files with
    // the same covering predicate is a FULL oracle for the pruned read.
    "gdal_geoparquet_bbox" -> ((s, _) => {
      GraftFunctions.register(s)
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_q_geoparquet_bbox"
      val src = s.read.format("shapefile").load(s"$fixtures/stations.shp")
        .select(col("name"), col("geometry"))
      graft.sources.geoparquet.GeoParquet.write(src, out, bboxColumn = true)
      graft.sources.geoparquet.GeoParquet
        .read(s, out, bbox = (-77.05, 38.88, -76.99, 38.92))
        .select(col("name"), hex(col("geometry")).as("wkb_hex"))
        .orderBy(col("name"), col("wkb_hex"))
    }),

    // Tiled distributed spatial join (J7 at scale): a deterministic
    // 10,000-point grid over the CONUS bbox against the us_states
    // polygons — points key to grid cells, polygon envelopes replicate to
    // covering cells, cell-equality join, exact st_contains verify.
    // ORACLE-CHECKED: an independent even-odd ray-casting pass over the
    // same grid (tools/make_golden_gridjoin.py — no geometry library)
    // pins every per-state count; SpatialFnsSpec additionally
    // equality-checks the tiled result against the brute-force
    // broadcast-NL join.
    // ---- q186: quadkey tile binning — the geohash/H3-style spatial
    // index cell, as pure integer/double arithmetic so both engines
    // replay it exactly (no libm: plate-carrée tiling, not Web-Mercator —
    // same bit-interleave quadkey construction, different y projection).
    // Level 6 = 64×64 world tiles; digit i packs one x bit and one y bit
    // ((ty div 2^k) % 2 * 2 + (tx div 2^k) % 2). The aggregation is a
    // plain keyed count: binning points to index cells is THE scale
    // pattern every spatial pipeline starts with (the same cells drive
    // the tiled spatial join above and a z-order-style layout). ----
    "q186_quadkey_tiles" -> ((s, _) => {
      val pts = s.range(8192).select(
        (lit(-125.0) + (col("id") % 128).cast("double") * lit(0.43)).as("lon"),
        (lit(24.0) + expr("id div 128").cast("double") * lit(0.31)).as("lat"))
      val tiled = pts
        .withColumn("tx", floor((col("lon") + lit(180.0)) / lit(360.0) * lit(64.0)).cast("long"))
        .withColumn("ty", floor((lit(90.0) - col("lat")) / lit(180.0) * lit(64.0)).cast("long"))
        .withColumn("quadkey", concat(
          (expr("ty div 32") % 2 * 2 + expr("tx div 32") % 2).cast("string"),
          (expr("ty div 16") % 2 * 2 + expr("tx div 16") % 2).cast("string"),
          (expr("ty div 8") % 2 * 2 + expr("tx div 8") % 2).cast("string"),
          (expr("ty div 4") % 2 * 2 + expr("tx div 4") % 2).cast("string"),
          (expr("ty div 2") % 2 * 2 + expr("tx div 2") % 2).cast("string"),
          (col("ty") % 2 * 2 + col("tx") % 2).cast("string")))
      tiled.groupBy(col("quadkey"), col("tx"), col("ty"))
        .agg(count(lit(1)).as("n_points"))
        .orderBy(col("quadkey"))
    }),

    "gdal_spatial_join_tiled" -> ((s, _) => {
      GraftFunctions.register(s)
      val states = s.read.format("geojson")
        .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
        .select(col("name"), col("geometry"))
      val pts = s.range(10000).select(
        (lit(-124.0) + (col("id") % 100).cast("double") * 0.57).as("lon"),
        (lit(25.0) + (col("id") / 100).cast("double") * 0.24).as("lat"))
        .withColumn("pt", expr("st_point(lon, lat)"))
      graft.api.Graft.spatialJoinTiled(pts, states, "pt", "geometry", cellSize = 2.0)
        .groupBy(col("name")).agg(count(lit(1)).as("n_points"))
        .orderBy(col("name"))
    }),

    // Same both-halves pin for GeoPackage — the most widely deployed GDAL
    // vector container, served by the shared pure-JVM SQLite stack: the
    // writer builds the gpkg_* metadata tables + feature b-tree and stamps
    // the GPKG application id; the reader discovers the layer from
    // gpkg_geometry_columns and strips the GeoPackageBinary header.
    // ORACLE-CHECKED (golden CSV): same both-halves hash gate for the
    // GeoPackage SQLite container (fid column dropped — it numbers rows
    // in partition-write order, which the golden file cannot know).
    "gdal_convert_shapefile_to_gpkg" -> ((s, _) => {
      GraftFunctions.register(s)
      val out = graft.TempDirs.untilExit("graft_q_gpkg_").toString
      s.read.format("shapefile").load(s"$fixtures/stations.shp")
        .write.format("gpkg").option("layerName", "stations")
        .mode("overwrite").save(out)
      s.read.format("gpkg").option("layerName", "stations").load(out)
        .select(col("name"), col("marker-sym"),
          GraftFunctions.st_x(col("geometry")).as("x"),
          GraftFunctions.st_y(col("geometry")).as("y"))
        .orderBy(col("name"), col("x"))
    }))

  /** DuckDB oracles for the source entries whose outputs DuckDB can
    * reproduce WITHOUT spatial support: it re-reads the same committed
    * fixture files through read_json/read_csv, so the whole DSv2 read
    * path (schema inference, property conversion, null handling) is
    * hash-checked, not just row-counted. */
  val oracle: Map[String, String] = Map(
    // Same covering predicate over the same files the Spark query wrote —
    // for points the envelope test IS the exact test, so this fully
    // oracles the pruned read path (gdal_read_fgb_bbox's 19 stations).
    "gdal_geoparquet_bbox" ->
      """SELECT name, hex(geometry) AS wkb_hex
        |FROM read_parquet('/tmp/graft_q_geoparquet_bbox/*.parquet')
        |WHERE bbox.xmin <= -76.99 AND bbox.xmax >= -77.05
        |  AND bbox.ymin <= 38.92 AND bbox.ymax >= 38.88
        |ORDER BY name, wkb_hex""".stripMargin,

    // Reads the files the Spark query just wrote (fixed tmp path): an
    // independent parquet implementation checking our writer's output.
    "gdal_geoparquet_roundtrip" ->
      """SELECT name, "marker-sym", hex(geometry) AS wkb_hex
        |FROM read_parquet('/tmp/graft_q_geoparquet/*.parquet')
        |ORDER BY name, wkb_hex""".stripMargin,

    "gdal_read_geojson_attrs" ->
      s"""SELECT f->>'$$.properties.name' AS name,
         |       f->>'$$.properties.iso_3166_2' AS iso_3166_2,
         |       f->>'$$.properties.postal' AS postal
         |FROM (SELECT unnest(features) AS f
         |      FROM read_json('$fixtures/us_states.feature_collection.implicit_4326.json',
         |                     columns={'features':'JSON[]'}))
         |ORDER BY name""".stripMargin,

    // The geometry column round-trips the CSV lon/lat through WKB and
    // back out via st_x/st_y — IEEE doubles are exact, so DuckDB's
    // direct CSV parse must agree bit-for-bit.
    "gdal_read_csvgeo" ->
      s"""SELECT Country, CAST(Longitude AS DOUBLE) AS lon, CAST(Latitude AS DOUBLE) AS lat
         |FROM read_csv('$fixtures/lat_lon_countries.csv', header=true)
         |ORDER BY Country""".stripMargin,

    // webmercator twin: the identical λ·(π/180)·R and ln tan(φ·π/360 +
    // π/4)·R chains with the SAME Scala-printed double constants.
    // `+ 0.0` collapses IEEE −0.0 (lat=0 row) to +0.0 on both engines.
    "gdal_webmercator" ->
      s"""SELECT Country,
         |  ROUND(CAST(Longitude AS DOUBLE) * ${math.Pi / 180.0} * 6378137.0, 3) + 0.0 AS x_3857,
         |  ROUND(ln(tan(CAST(Latitude AS DOUBLE) * ${math.Pi / 360.0} +
         |    ${math.Pi / 4.0})) * 6378137.0, 3) + 0.0 AS y_3857
         |FROM read_csv('$fixtures/lat_lon_countries.csv', header=true)
         |WHERE abs(CAST(Latitude AS DOUBLE)) < 89.9999
         |ORDER BY Country""".stripMargin,

    // The remaining station entries oracle against the GOLDEN CSV — an
    // independent struct-unpack parse of the same .shp/.dbf
    // (tools/make_golden_stations.py), committed to the repo. Shortest-
    // round-trip float formatting means both engines hold bit-identical
    // IEEE doubles, so full hash compares apply.
    "gdal_read_shapefile" ->
      s"""SELECT name, "marker-sym", x, y FROM read_csv('$golden',
         |  header=true, columns={'name':'VARCHAR','marker-sym':'VARCHAR','x':'DOUBLE','y':'DOUBLE'})
         |ORDER BY name, x""".stripMargin,

    // write-then-read conversions land on the same golden values: the
    // FGB/GPKG writers+readers may not perturb a single attribute byte
    // or coordinate bit
    "gdal_convert_shapefile_to_fgb" ->
      s"""SELECT name, "marker-sym", x, y FROM read_csv('$golden',
         |  header=true, columns={'name':'VARCHAR','marker-sym':'VARCHAR','x':'DOUBLE','y':'DOUBLE'})
         |ORDER BY name, x""".stripMargin,

    "gdal_convert_shapefile_to_gpkg" ->
      s"""SELECT name, "marker-sym", x, y FROM read_csv('$golden',
         |  header=true, columns={'name':'VARCHAR','marker-sym':'VARCHAR','x':'DOUBLE','y':'DOUBLE'})
         |ORDER BY name, x""".stripMargin,

    // points: envelope intersection == inclusive coordinate bounds
    "gdal_read_fgb_bbox" ->
      s"""SELECT name, "marker-sym", x, y FROM read_csv('$golden',
         |  header=true, columns={'name':'VARCHAR','marker-sym':'VARCHAR','x':'DOUBLE','y':'DOUBLE'})
         |WHERE x >= -77.05 AND x <= -76.99 AND y >= 38.88 AND y <= 38.92
         |ORDER BY name, x""".stripMargin,

    // stdlib-sqlite3 + spec blob parse second-sources the SpatiaLite read
    "gdal_read_spatialite" ->
      s"""SELECT fid, code, name, gtype, npoints, cx, cy FROM read_csv('$goldenComuni',
         |  header=true, columns={'fid':'BIGINT','code':'BIGINT','name':'VARCHAR',
         |    'gtype':'VARCHAR','npoints':'INTEGER','cx':'DOUBLE','cy':'DOUBLE'})
         |ORDER BY code, fid""".stripMargin,

    // quadkey twin: identical double chain for the tile coordinates
    // (literal-for-literal), identical integer bit packing for the key
    "q186_quadkey_tiles" ->
      """WITH pts AS (
        |  SELECT -125.0 + CAST(id % 128 AS DOUBLE) * 0.43 AS lon,
        |         24.0 + CAST(id // 128 AS DOUBLE) * 0.31 AS lat
        |  FROM (SELECT unnest(generate_series(0, 8191)) AS id)),
        |tiles AS (
        |  SELECT CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT) AS tx,
        |         CAST(floor((90.0 - lat) / 180.0 * 64.0) AS BIGINT) AS ty
        |  FROM pts),
        |keyed AS (
        |  SELECT tx, ty,
        |    CAST(((ty // 32) % 2) * 2 + ((tx // 32) % 2) AS VARCHAR) ||
        |    CAST(((ty // 16) % 2) * 2 + ((tx // 16) % 2) AS VARCHAR) ||
        |    CAST(((ty // 8) % 2) * 2 + ((tx // 8) % 2) AS VARCHAR) ||
        |    CAST(((ty // 4) % 2) * 2 + ((tx // 4) % 2) AS VARCHAR) ||
        |    CAST(((ty // 2) % 2) * 2 + ((tx // 2) % 2) AS VARCHAR) ||
        |    CAST((ty % 2) * 2 + (tx % 2) AS VARCHAR) AS quadkey
        |  FROM tiles)
        |SELECT quadkey, tx, ty, COUNT(*) AS n_points
        |FROM keyed GROUP BY quadkey, tx, ty
        |ORDER BY quadkey""".stripMargin,

    // every per-state count from the independent ray-casting golden
    "gdal_spatial_join_tiled" ->
      s"""SELECT name, n_points FROM read_csv('$goldenGridJoin',
         |  header=true, columns={'name':'VARCHAR','n_points':'BIGINT'})
         |ORDER BY name""".stripMargin,

    // geometry facts from the independent JSON-walk golden: parsed type
    // and exact vertex count through JSON→JTS→WKB
    "gdal_read_geojson" ->
      s"""SELECT name, iso_3166_2, gtype, npoints FROM read_csv('$goldenStates',
         |  header=true, columns={'name':'VARCHAR','iso_3166_2':'VARCHAR','gtype':'VARCHAR','npoints':'INTEGER'})
         |ORDER BY name""".stripMargin,

    // gml_id = 's' || (rank by name, x) exactly as the fixture writer
    // enumerates; coordinates text-round-trip bit-exactly
    "gdal_read_gml" ->
      s"""SELECT 's' || CAST(ROW_NUMBER() OVER (ORDER BY name, x) - 1 AS VARCHAR) AS gml_id,
         |  name, x, y
         |FROM read_csv('$golden',
         |  header=true, columns={'name':'VARCHAR','marker-sym':'VARCHAR','x':'DOUBLE','y':'DOUBLE'})
         |ORDER BY name, x""".stripMargin,

    // per-cell extents: min/max of doubles are exact; the JTS union of a
    // cell's DISTINCT points is a MultiPoint of all of them (Point when
    // the cell holds a single station)
    "gdal_spatial_extent" ->
      s"""SELECT CAST(FLOOR(x * 10) AS BIGINT) || '_' || CAST(FLOOR(y * 10) AS BIGINT) AS cell,
         |  COUNT(*) AS n, MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax,
         |  CAST(COUNT(DISTINCT (x, y)) AS INT) AS n_union_points,
         |  CASE WHEN COUNT(DISTINCT (x, y)) > 1 THEN 'MultiPoint' ELSE 'Point' END AS union_type
         |FROM read_csv('$golden',
         |  header=true, columns={'name':'VARCHAR','marker-sym':'VARCHAR','x':'DOUBLE','y':'DOUBLE'})
         |GROUP BY 1 ORDER BY cell""".stripMargin
  )
}
