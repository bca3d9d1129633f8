package graft

/** End-to-end demo of the GDAL-parity surface: the reference README's
  * examples (read, SQL filter, geometry projections, bytes round-trip)
  * re-expressed against this engine. Run:
  * `sbt "runMain graft.Demo [fixtureDir]"` (default: the committed
  * fixtures, [[Fixtures.dir]]) */
object Demo {
  def main(args: Array[String]): Unit = {
    val fixtures = args.headOption.getOrElse(Fixtures.dir)
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // Example 1: read a GeoJSON resource (reference README.md:17-31)
    val states = spark.read.format("geojson")
      .load(s"$fixtures/us_states.feature_collection.implicit_4326.json")
    println(s"[demo] us_states: ${states.count()} rows, ${states.schema.fields.length} cols")

    // Example 3: SQL filter + geometry projection (reference README.md:33-44)
    states.createOrReplaceTempView("states")
    spark.sql(
      """SELECT name, iso_3166_2, substring(st_aswkt(geometry), 1, 40) AS wkt40
        |FROM states WHERE iso_3166_2 IN ('US-MN', 'US-CA') ORDER BY name""".stripMargin)
      .show(false)

    // Lat/lon CSV with point synthesis (reference README.md:46-54)
    val countries = spark.read.format("csvgeo").load(s"$fixtures/lat_lon_countries.csv")
    countries.createOrReplaceTempView("countries")
    spark.sql(
      """SELECT Country, st_x(geometry) AS lon, st_y(geometry) AS lat
        |FROM countries WHERE Country LIKE 'A%' ORDER BY Country LIMIT 5""".stripMargin)
      .show(false)

    // Shapefile (+zip via bytes hint, reference src/test.rs:43-52)
    val stations = spark.read.format("shapefile").load(s"$fixtures/stations.shp")
    println(s"[demo] stations.shp: ${stations.count()} rows; fields=${stations.schema.fieldNames.mkString(",")}")
    val zipBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fixtures/stations_shapefile.shp.zip"))
    println(s"[demo] stations zip bytes: ${GdalRead.fromBytes(spark, zipBytes, Some("stations.shp.zip")).count()} rows")

    // Newline-delimited GeoJSON round trip (splittable write path)
    val seqOut = TempDirs.untilExit("demo_seq_").toString
    states.select("name", "geometry").repartition(3)
      .write.format("geojsonseq").mode("overwrite").save(seqOut)
    println(s"[demo] geojsonseq round trip: " +
      s"${spark.read.format("geojsonseq").load(seqOut).count()} rows from 3 part files")

    // Write path: DataFrame -> GeoJSON bytes (reference src/test.rs:146-158)
    val bytes = GdalWrite.toBytes(states.select("name", "geometry").limit(2))
    println(s"[demo] gdal_bytes_from_df: ${bytes.length} bytes; head=${new String(bytes.take(60), "UTF-8")}")

    // Spatial filter pushdown: stations -> indexed FlatGeobuf -> bbox read
    // served from the packed Hilbert R-tree (byte-range splits)
    val fgbOut = TempDirs.untilExit("demo_fgb_").toString
    stations.coalesce(1).write.format("flatgeobuf").mode("overwrite").save(fgbOut)
    val boxed = spark.read.format("flatgeobuf")
      .option("bbox", "-77.05,38.88,-76.99,38.92").load(fgbOut)
    println(s"[demo] fgb bbox read: ${boxed.count()} of ${stations.count()} stations " +
      s"(R-tree-planned splits)")

    // LLM corpus prep on the driver's documents table (if present):
    // scrub -> quality gate -> dedup -> decontaminate -> split
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    if (new java.io.File(docsPath).exists()) {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(docsPath)
      val scrubbed = graft.api.Graft.scrubPii(docs, "text")
      val quality = scrubbed
        .withColumn("n_tokens", expr("text_stats(text).ws_tokens").cast("long"))
        .filter(col("n_tokens") >= 20)
      val keep = graft.api.Graft.dedupExact(quality, "text", "doc_id").select("doc_id")
      val clean = graft.api.Graft.decontaminate(
          quality.join(keep, Seq("doc_id"), "left_semi")
            .filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0), "text", "doc_id")
        .filter(!col("contaminated"))
      val splits = graft.api.Graft.assignSplit(clean, "doc_id")
        .groupBy("split").count().orderBy("split").collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
      println(s"[demo] corpus pipeline (${docs.count()} docs in): $splits")

      // round-4 surface: chunking, vocabulary, quotas, TF-IDF keywords
      val nChunks = graft.api.Graft.chunkDocs(docs, "text").count()
      val topTok = graft.api.Graft.vocabulary(docs, "text", topK = 3)
        .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(" ")
      val capped = graft.api.Graft.capPerGroup(docs, "source",
        Seq(col("n_chars").desc, col("doc_id")), 10).count()
      println(s"[demo] chunking: $nChunks chunks of 500/100; vocab top-3: $topTok; " +
        s"per-source cap(10): $capped docs kept")

      // round-5 surface: span removal, bloom decontamination, k-means +
      // semantic dedup over embeddings, GeoParquet round trip
      val spans = graft.api.Graft.removeCommonSpans(docs, "text", "doc_id")
      val cut = spans.agg(sum(col("n_removed"))).head.getLong(0)
      val bloom = graft.api.Graft.decontaminateBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), "text", "doc_id")
        .filter(col("maybe_contaminated")).count()
      println(s"[demo] span removal: $cut words cut; bloom-flagged docs: $bloom")

      val embPath = "/root/testdata/sf0.001/embeddings.parquet"
      if (new java.io.File(embPath).exists()) {
        val emb = spark.read.parquet(embPath)
        val km = graft.api.Graft.kmeans(emb, "embedding", "vec_id", k = 4, iters = 2)
        val sizes = km.filter(col("pos") === 0).orderBy(col("cid"))
          .collect().map(r => s"c${r.getInt(0)}=${r.getLong(2)}").mkString(" ")
        val kept = graft.api.Graft.semanticDedup(emb, "embedding", "vec_id",
          k = 4, threshold = 0.45).count()
        println(s"[demo] kmeans(4) sizes: $sizes; semantic dedup keeps $kept of ${emb.count()}")
      }

      val gpqDir = TempDirs.untilExit("graft_demo_gpq").toString
      graft.sources.geoparquet.GeoParquet.write(
        stations.select(col("name"), col("geometry")), gpqDir)
      val gpqMeta = graft.sources.geoparquet.GeoParquet.meta(spark, gpqDir)
      println(s"[demo] geoparquet: ${graft.sources.geoparquet.GeoParquet.read(spark, gpqDir).count()} " +
        s"rows back; geo meta: ${gpqMeta.map(m => s"${m.primaryColumn}/${m.encoding} bbox=${m.bbox.isDefined}").getOrElse("none")}")
    }
    spark.stop()
  }
}
