package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{GraftError, WritableFeatureSourceProvider}

/** Byte-level entry points mirroring the reference's `df_from_bytes` /
  * `gdal_bytes_from_df` (S2/W2 — reference src/lib.rs:174-259, 586-611).
  * The filename hint drives format sniffing exactly like the reference's
  * `/vsimem/` name rule (zipped shapefiles REQUIRE an `.shp.zip` hint,
  * src/lib.rs:163-165, src/test.rs:49-51).
  */
object GdalRead {
  /** Read a DataFrame from raw bytes. Materializes to a process-unique temp
    * file (the JVM stand-in for `/vsimem/`) and routes by hint. */
  def fromBytes(spark: SparkSession, data: Array[Byte], filenameHint: Option[String] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    if (data.isEmpty) throw new GraftError.EmptyData // ref src/lib.rs:205-207
    val hint = filenameHint.getOrElse("buffer.geojson").toLowerCase
    val fmt =
      if (hint.endsWith(".shp.zip") || hint.endsWith(".zip")) "shapefile"
      else if (hint.endsWith(".csv")) "csvgeo"
      else if (hint.endsWith(".fgb")) "flatgeobuf"
      else if (hint.endsWith(".kml")) "kml"
      else if (hint.endsWith(".gml")) "gml"
      else if (hint.endsWith(".gpx")) "gpx"
      else if (hint.endsWith(".gpkg")) "gpkg"
      else if (hint.endsWith(".sqlite") || hint.endsWith(".db")) "spatialite"
      else if (hint.endsWith(".geojsonl") || hint.endsWith(".ndjson") ||
        hint.endsWith(".geojsons")) "geojsonseq"
      else if (hint.endsWith(".arrow") || hint.endsWith(".arrows") ||
        // content sniff: Arrow IPC files open with the ARROW1 magic
        (data.length >= 6 && data.startsWith("ARROW1".getBytes("ISO-8859-1")))) "arrow"
      else "geojson"
    if (fmt == "arrow") {
      val tmp = File.createTempFile("graft_bytes_", ".arrow")
      tmp.deleteOnExit()
      Files.write(tmp.toPath, data)
      return graft.sources.arrow.ArrowRead.fromFile(spark, tmp.getAbsolutePath)
    }
    val suffix = hint.drop(math.max(0, hint.length - 12)).replaceAll("[^a-z0-9.]", "_")
    val tmp = File.createTempFile("graft_bytes_", "_" + suffix)
    tmp.deleteOnExit()
    Files.write(tmp.toPath, data)
    options.foldLeft(spark.read.format(fmt)) { case (r, (k, v)) => r.option(k, v) }
      .load(tmp.getAbsolutePath)
  }

  /** Read a DataFrame from a URL (reference S6 remote reads,
    * src/lib.rs:261-293): fetch the resource bytes, then route through
    * [[fromBytes]] with the URL's filename as the sniffing hint. Works
    * for any scheme the JVM resolves — http/https/file; the http branch
    * is exercised end-to-end against an in-process loopback server
    * (SourcesSpec "loopback server round trip"), including the
    * `.shp.zip` hint rule over http. Driver-side fetch by design — the
    * reference's remote read is a single-stream download too; a
    * many-file remote layout should be mounted/synced and read as a
    * directory instead. */
  def fromUrl(spark: SparkSession, url: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val u = java.net.URI.create(url).toURL
    val in = u.openStream()
    val data = try in.readAllBytes() finally in.close()
    val hint = Option(u.getPath).map(_.split('/').last).filter(_.nonEmpty)
    fromBytes(spark, data, hint, options)
  }
}

object GdalWrite {
  /** The modification time every entry of a zipped `toBytes` result
    * carries (1980-01-01T00:00 local, the earliest a zip entry holds). */
  val ZipEntryTime: Long =
    java.time.LocalDateTime.of(1980, 1, 1, 0, 0).atZone(java.time.ZoneId.systemDefault).toInstant.toEpochMilli

  /** Serialize a DataFrame to bytes in the given driver format —
    * "geojson" (single FeatureCollection, the default), "csvgeo" (one
    * CSV with WKT geometry), "shapefile" (a zip of the .shp/.shx/.dbf
    * triple, the inverse of the `.shp.zip` read hint), "flatgeobuf"
    * (one indexed .fgb), "spatialite" (one SQLite database), "kml",
    * "gpx" (waypoints) or "geojsonseq" (newline-delimited). Reference
    * W2 accepts any GDAL driver (src/lib.rs:586-611); these are the
    * drivers our source surface round-trips. Every file format writes
    * one part through the DSv2 writer and returns its bytes; "arrow"
    * writes Arrow IPC in one pass. A bytes result is inherently
    * single-node; the scalable path is `df.write.format(fmt)`. */
  def toBytes(df: DataFrame, options: Map[String, String] = Map.empty,
      format: String = "geojson"): Array[Byte] = {
    // W2 is inherently driver-side (ref parity src/lib.rs:586-611): the
    // result must fit in one JVM. Two-layer guard, overridable per call
    // ('maxBytes' option; the scalable path is df.write.format(fmt)):
    // (1) plan-time, on the optimizer's FREE size estimate — but ONLY
    // when the estimate is credible: join estimates multiply, aggregates
    // inherit child size without CBO, and stats-less sources default to
    // spark.sql.defaultSizeInBytes (Long.MaxValue), so those shapes are
    // exempt from the pre-check rather than spuriously rejected;
    // (2) run-time, exact, enforced while writing (output-file length /
    // Arrow stream length) before any full byte buffer is materialized —
    // so a runaway result still fails loudly instead of OOMing even
    // when the estimate lied low or was exempt.
    val cap = options.get("maxBytes").map(_.toLong).getOrElse(1L << 30)
    val plan = df.queryExecution.optimizedPlan
    val est = plan.stats.sizeInBytes
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, GlobalLimit, LocalLimit}
    val estCredible = !plan.exists {
      case _: Aggregate | _: Join | _: GlobalLimit | _: LocalLimit => true
      case _ => false
    } && est < BigInt(Long.MaxValue) / 4
    if (estCredible && est > BigInt(cap))
      throw new GraftError.DriverBytesTooLarge(est, cap)
    toBytesCapped(df, options, format, cap)
  }

  private def toBytesCapped(df: DataFrame, options: Map[String, String],
      format: String, cap: Long): Array[Byte] = format.toLowerCase match {
    case "geojson" => fileBytes(df, new sources.geojson.GeoJsonSourceProvider, options, cap)
    case "csvgeo" | "csv" => fileBytes(df, new sources.csvgeo.CsvGeoSourceProvider, options, cap)
    case "shapefile" | "shp" | "shp.zip" =>
      fileBytes(df, new sources.shapefile.ShapefileSourceProvider, options, cap)
    case "flatgeobuf" | "fgb" => fileBytes(df, new sources.flatgeobuf.FgbSourceProvider, options, cap)
    case "spatialite" | "sqlite" =>
      fileBytes(df, new sources.spatialite.SpatiaLiteSourceProvider, options, cap)
    case "gpkg" | "geopackage" => fileBytes(df, new sources.gpkg.GpkgSourceProvider, options, cap)
    case "kml" => fileBytes(df, new sources.xml.KmlSourceProvider, options, cap)
    case "gml" => fileBytes(df, new sources.xml.GmlSourceProvider, options, cap)
    case "gpx" => fileBytes(df, new sources.xml.GpxSourceProvider, options, cap)
    case "geojsonseq" | "geojsonl" | "ndjson" =>
      fileBytes(df, new sources.geojson.GeoJsonSeqSourceProvider, options, cap)
    case "arrow" | "ipc" => graft.sources.arrow.ArrowWrite.toBytes(df, cap)
    case other => throw new IllegalArgumentException(
      s"unsupported bytes format '$other' " +
        "(geojson|csvgeo|shapefile|flatgeobuf|spatialite|gpkg|kml|gml|gpx|geojsonseq|arrow)")
  }

  /** The EmptyDataframe a write raised at job commit, under Spark's
    * wrapping of it. */
  private def emptyWrite(e: Throwable): Option[GraftError.EmptyDataframe] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .collectFirst { case x: GraftError.EmptyDataframe => x }

  private def dirBytes(f: File): Long = {
    val kids = f.listFiles()
    if (kids == null) 0L
    else kids.foldLeft(0L)((acc, k) =>
      acc + (if (k.isDirectory) dirBytes(k) else k.length()))
  }

  /** Route through the (tested) DSv2 writer into a temp dir, then return
    * the single produced part's main file — zipped with its sidecars when
    * the sink's part has more than one file (shapefile). */
  private def fileBytes(df: DataFrame, provider: WritableFeatureSourceProvider,
      options: Map[String, String], cap: Long): Array[Byte] = {
    val fmt = provider.shortName()
    val mainExt = provider.sink.extensions.head
    val dir = Files.createTempDirectory("graft_bytes_out_").toFile
    try {
      // Plan-gate-exempt shapes (joins/aggregates — no credible size
      // estimate) used to run to completion here, so an output-sized
      // result could fill local temp disk before the post-write check
      // fired. A watchdog polls the temp dir WHILE the write runs and
      // cancels the job group within ~200 ms of it crossing the cap —
      // the disk-fill window is now cap + one poll interval of data.
      val sc = df.sparkSession.sparkContext
      val group = s"graft_tobytes_${java.lang.Long.toHexString(System.nanoTime())}"
      @volatile var trippedAt = -1L
      val watchdog = new Thread(() => {
        try {
          while (trippedAt < 0) {
            Thread.sleep(200)
            val sz = dirBytes(dir)
            if (sz > cap) { trippedAt = sz; sc.cancelJobGroup(group) }
          }
        } catch { case _: InterruptedException => () }
      }, s"$group-watchdog")
      watchdog.setDaemon(true)
      watchdog.start()
      try {
        sc.setJobGroup(group, s"graft.toBytes($fmt) capped at $cap bytes",
          interruptOnCancel = true)
        try {
          options.foldLeft(df.coalesce(1).write.format(fmt).mode("overwrite")) {
            case (w, (k, v)) => w.option(k, v)
          }.save(dir.getAbsolutePath)
        } catch {
          case _: Throwable if trippedAt >= 0 =>
            throw new GraftError.DriverBytesTooLarge(BigInt(trippedAt), cap)
          case e: Throwable => throw emptyWrite(e).getOrElse(e) // unwrapped (ref src/lib.rs:509-511)
        } finally sc.clearJobGroup()
      } finally watchdog.interrupt()
      val produced = dir.listFiles().filter(_.isFile)
        .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
        .sortBy(_.getName)
      // exact runtime cap: the executor wrote to local disk; measure the
      // real output before buffering any of it into driver memory
      val total = produced.map(_.length).sum
      if (total > cap)
        throw new GraftError.DriverBytesTooLarge(BigInt(total), cap)
      if (provider.sink.extensions.size == 1) {
        val main = produced.find(_.getName.endsWith(mainExt)).getOrElse(
          throw new IllegalStateException(s"$fmt writer produced no $mainExt file"))
        Files.readAllBytes(main.toPath)
      } else {
        val prefix = produced.find(_.getName.endsWith(mainExt)).getOrElse(
          throw new IllegalStateException(s"$fmt writer produced no $mainExt file"))
          .getName.stripSuffix(mainExt)
        val bos = new java.io.ByteArrayOutputStream()
        val zos = new java.util.zip.ZipOutputStream(bos)
        produced.filter(_.getName.startsWith(prefix)).foreach { f =>
          val entry = new java.util.zip.ZipEntry(f.getName)
          entry.setTime(GdalWrite.ZipEntryTime) // not the wall clock: the same frame gives the same bytes
          zos.putNextEntry(entry)
          zos.write(Files.readAllBytes(f.toPath))
          zos.closeEntry()
        }
        zos.close()
        bos.toByteArray
      }
    } finally TempDirs.deleteTree(dir)
  }
}
