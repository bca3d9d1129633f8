package graft.sources.shapefile

import java.io.{File, FileOutputStream}
import java.util.zip.ZipInputStream

import graft.TempDirs
import graft.sources._

/** Shapefile reader (S1 for the ESRI Shapefile driver; zipped shapefiles
  * supported like the reference's `/vsizip/` + filename-hint path,
  * reference src/lib.rs:163-165, src/test.rs:43-52): pairs .shp geometry
  * records with .dbf attribute rows; FID is the 0-based record index
  * (GDAL's shapefile FID convention).
  */
class ShapefileFormat extends ColumnarFormat {
  override def extensions: Seq[String] = Seq(".shp", ".shp.zip", ".zip")
  override def handlesBbox: Boolean = true // record-box skip on every path

  /** One huge .shp parallelizes across executors via .shx record-range
    * splits (`splitRecords` option, default 65536 records/partition) —
    * the scale upgrade over the reference's single-threaded scan. A bbox
    * that misses the file-level extent (header bytes 36..68) prunes the
    * whole file without planning any split. */
  override def planSplits(path: String, opts: GdalOptions): Seq[SplitSpec] = {
    val isZip = path.toLowerCase.endsWith(".zip")
    if (!isZip && opts.bbox.exists(q => !q.intersects(Shp.fileBox(path))))
      return Seq.empty
    val shxPath = path.replaceAll("\\.shp$", ".shx")
    if (isZip || !new File(shxPath).exists)
      Seq(SplitSpec(path, 0L, -1L))
    else {
      val n = Shp.shxOffsets(shxPath).length.toLong
      val per = math.max(1L, opts.splitRecords)
      if (n <= per) Seq(SplitSpec(path, 0L, -1L))
      else (0L until n by per).map(s => SplitSpec(path, s, math.min(per, n - s)))
    }
  }

  override def cursor(spec: SplitSpec, opts: GdalOptions, sink: ValueSink): FeatureCursor =
    if (spec.startRecord == 0L && spec.numRecords == -1L)
      cursorOf(spec.path, 0L, -1L, 100L, opts.bbox, sink)
    else {
      val startByte = Shp.shxOffsets(spec.path.replaceAll("\\.shp$", ".shx"))(spec.startRecord.toInt)
      cursorOf(spec.path, spec.startRecord, spec.numRecords, startByte, opts.bbox, sink)
    }

  private def cursorOf(path: String, startRec: Long, numRec: Long, startByte: Long,
      bbox: Option[graft.sources.flatgeobuf.FgbIndex.Box], sink: ValueSink): FeatureCursor =
    if (isZip(path)) {
      val dir = unzipToTemp(path)
      val c = try cursorOf(shpIn(dir, path), startRec, -1L, 100L, bbox, sink)
      catch { case e: Throwable => TempDirs.deleteTree(dir); throw e }
      new FeatureCursor {
        override def next(): Boolean = c.next()
        override def sizeHint: Long = c.sizeHint
        override def close(): Unit = try c.close() finally TempDirs.deleteTree(dir)
      }
    } else new ShapefileFormat.Records(path, startRec, numRec, startByte, bbox, sink)

  /** Types from the DBF alone: header types, with each column's cells
    * decoded only until its first non-null one (see
    * [[SchemaInference.HeaderTypes]]), and no DBF record read once every
    * column is settled. The features are the .shp records, as in [[open]]:
    * their headers walked and their contents skipped, but for the record
    * box a bbox tests. */
  override def openTypes(path: String, opts: GdalOptions): TypeIterator =
    if (isZip(path)) {
      val dir = unzipToTemp(path)
      val it = try openTypes(shpIn(dir, path), opts)
      catch { case e: Throwable => TempDirs.deleteTree(dir); throw e }
      TypeIterator(it, () => try it.close() finally TempDirs.deleteTree(dir))
    } else {
      val dbfPath = path.replaceAll("\\.shp$", ".dbf")
      if (!new File(dbfPath).exists) return super.openTypes(path, opts)

      val shp = Shp.rawRecords(path, keep = if (opts.bbox.isDefined) Shp.BoxBytes else 0)
      val dbf = new Dbf.Reader(dbfPath, 0L, -1L)
      val types = new SchemaInference.HeaderTypes(
        dbf.fields.map(f => (f.name, Dbf.sparkType(f))))
      val presence = new Presence(dbf.fields.length)
      var unread = opts.offset // the window drops these before inference reads them
      var row = 0L // the record's DBF row, read only while a column is unsettled
      val it = shp.flatMap { case (_, content) =>
        val hasRow = row < dbf.records
        val rec = if (hasRow && !types.settledAll) dbf.next() else null
        row += 1
        if (opts.bbox.exists(q => !Shp.boxIntersects(content, q))) None
        else if (unread > 0) { unread -= 1; Some(IndexedSeq.empty) }
        else if (!hasRow) Some(IndexedSeq.empty)
        else Some(types.next { c =>
          presence.present(c) = false
          dbf.putCell(rec, c, presence, c)
          presence.present(c)
        })
      }
      TypeIterator(it, () => { dbf.close(); shp.close() })
    }

  private def isZip(path: String): Boolean = path.toLowerCase.endsWith(".zip")

  /** Zipped shapefile: extract its members into a new temp dir, which the
    * caller deletes when done with it (when the iterator over its .shp
    * closes, or at once if opening fails). */
  private def unzipToTemp(zipPath: String): File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_shp_").toFile
    val zin = new ZipInputStream(new java.io.FileInputStream(zipPath))
    try {
      var entry = zin.getNextEntry
      while (entry != null) {
        if (!entry.isDirectory) {
          val os = new FileOutputStream(new File(dir, new File(entry.getName).getName))
          try zin.transferTo(os) finally os.close()
        }
        zin.closeEntry()
        entry = zin.getNextEntry
      }
    } catch { case e: Throwable => TempDirs.deleteTree(dir); throw e }
    finally zin.close()
    dir
  }

  /** The .shp member of an extracted zip. */
  private def shpIn(dir: File, zipPath: String): String =
    dir.listFiles().find(_.getName.toLowerCase.endsWith(".shp"))
      .getOrElse(throw new IllegalArgumentException(s"No .shp member in $zipPath"))
      .getAbsolutePath
}

object ShapefileFormat {
  /** The .shp records of a range, each paired with its DBF row (consumed
    * for every record, so bbox skipping keeps the two streams aligned and
    * the FID is the file record index). */
  private final class Records(path: String, startRec: Long, numRec: Long, startByte: Long,
      bbox: Option[graft.sources.flatgeobuf.FgbIndex.Box], sink: ValueSink) extends FeatureCursor {
    private val raw = Shp.rawRecords(path, startByte, numRec)
    private val dbf = {
      val dbfPath = path.replaceAll("\\.shp$", ".dbf")
      try if (new File(dbfPath).exists) new Dbf.Reader(dbfPath, startRec, numRec) else null
      catch { case e: Throwable => raw.close(); throw e }
    }
    private val slots = if (dbf == null) Array.empty[Int] else sink.bind(dbf.fields.map(_.name))
    private var idx = startRec - 1

    override def sizeHint: Long = if (dbf != null) dbf.records else numRec

    override def next(): Boolean = {
      while (raw.hasNext) {
        val content = raw.next()._2
        idx += 1
        val rec = if (dbf != null && dbf.hasNext) dbf.next() else null
        if (!bbox.exists(q => !Shp.boxIntersects(content, q))) {
          sink.fid(idx)
          if (rec != null) dbf.put(rec, sink, slots)
          sink.geometry(Shp.wkb(content))
          return true
        }
      }
      false
    }

    override def close(): Unit = try raw.close() finally if (dbf != null) dbf.close()
  }
}

/** `spark.read.format("shapefile")` / `df.write.format("shapefile")` */
class ShapefileSourceProvider extends WritableFeatureSourceProvider {
  override def shortName(): String = "shapefile"
  override def format: FeatureFormat = new ShapefileFormat
  override def sink: FeatureSink = ShapefileSink
}
