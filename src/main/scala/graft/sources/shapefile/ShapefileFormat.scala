package graft.sources.shapefile

import java.io.{File, FileOutputStream}
import java.util.zip.ZipInputStream

import scala.collection.immutable.ArraySeq

import graft.TempDirs
import graft.geom.GeomCodec
import graft.sources._

/** Shapefile reader (S1 for the ESRI Shapefile driver; zipped shapefiles
  * supported like the reference's `/vsizip/` + filename-hint path,
  * reference src/lib.rs:163-165, src/test.rs:43-52): pairs .shp geometry
  * records with .dbf attribute rows; FID is the 0-based record index
  * (GDAL's shapefile FID convention).
  */
class ShapefileFormat extends FeatureFormat {
  override def extensions: Seq[String] = Seq(".shp", ".shp.zip", ".zip")
  override def handlesBbox: Boolean = true // record-box skip on every path

  override def open(path: String, opts: GdalOptions): FeatureIterator =
    openRange(path, 0L, -1L, bbox = opts.bbox)

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

  override def openSplit(spec: SplitSpec, opts: GdalOptions): FeatureIterator =
    if (spec.startRecord == 0L && spec.numRecords == -1L) open(spec.path, opts)
    else {
      val startByte = Shp.shxOffsets(spec.path.replaceAll("\\.shp$", ".shx"))(spec.startRecord.toInt)
      openRange(spec.path, spec.startRecord, spec.numRecords, startByte, opts.bbox)
    }

  private def openRange(path: String, startRec: Long, numRec: Long,
      startByte: Long = 100L,
      bbox: Option[graft.sources.flatgeobuf.FgbIndex.Box] = None): FeatureIterator =
    if (isZip(path)) {
      val dir = unzipToTemp(path)
      val it = try openRange(shpIn(dir, path), startRec, -1L, bbox = bbox)
      catch { case e: Throwable => TempDirs.deleteTree(dir); throw e }
      FeatureIterator(it, () => try it.close() finally TempDirs.deleteTree(dir))
    } else {
      val dbfPath = path.replaceAll("\\.shp$", ".dbf")
      val raw = Shp.rawRecords(path, startByte, numRec)
      val dbf =
        try if (new File(dbfPath).exists) new Dbf.Reader(dbfPath, startRec, numRec) else null
        catch { case e: Throwable => raw.close(); throw e }
      val names = if (dbf == null) Array.empty[String] else dbf.fields.map(_.name).toArray

      // the DBF row is consumed for every .shp record — bbox skipping must
      // keep the two streams aligned and the FID = file record index
      var idx = startRec - 1
      val it = raw.flatMap { case (_, content) =>
        idx += 1
        val rec = if (dbf != null && dbf.hasNext) dbf.next() else null
        if (bbox.exists(q => !Shp.boxIntersects(content, q))) None
        else {
          val attrs: IndexedSeq[(String, Any)] =
            if (rec == null) IndexedSeq.empty
            else {
              val deleted = dbf.deleted(rec)
              val props = new Array[(String, Any)](names.length)
              var c = 0
              while (c < names.length) {
                props(c) = (names(c), if (deleted) null else dbf.cell(rec, c))
                c += 1
              }
              ArraySeq.unsafeWrapArray(props)
            }
          val geom = Shp.parseShape(content)
          Some(RawFeature(idx, if (geom == null) null else GeomCodec.toWkb(geom), attrs))
        }
      }
      FeatureIterator(it, () => try raw.close() finally if (dbf != null) dbf.close())
    }

  /** Types from the DBF alone: header types, with each column's cells
    * parsed only until its first non-null one (see
    * [[SchemaInference.HeaderTypes]]). The features are the .shp records,
    * as in [[open]]: walked for their record boxes, never parsed. */
  override def openTypes(path: String, opts: GdalOptions): TypeIterator =
    if (isZip(path)) {
      val dir = unzipToTemp(path)
      val it = try openTypes(shpIn(dir, path), opts)
      catch { case e: Throwable => TempDirs.deleteTree(dir); throw e }
      TypeIterator(it, () => try it.close() finally TempDirs.deleteTree(dir))
    } else {
      val dbfPath = path.replaceAll("\\.shp$", ".dbf")
      if (!new File(dbfPath).exists) return super.openTypes(path, opts)

      val shp = Shp.rawRecords(path)
      val dbf = new Dbf.Reader(dbfPath, 0L, -1L)
      val types = new SchemaInference.HeaderTypes(
        dbf.fields.map(f => (f.name, Dbf.sparkType(f))))
      var unread = opts.offset // the window drops these before inference reads them
      val it = shp.flatMap { case (_, content) =>
        val rec = if (dbf.hasNext) dbf.next() else null
        if (opts.bbox.exists(q => !Shp.boxIntersects(content, q))) None
        else if (unread > 0) { unread -= 1; Some(IndexedSeq.empty) }
        else if (rec == null) Some(IndexedSeq.empty)
        else Some(types.next(c => !dbf.deleted(rec) && dbf.cell(rec, c) != null))
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

/** `spark.read.format("shapefile")` / `df.write.format("shapefile")` */
class ShapefileSourceProvider extends WritableFeatureSourceProvider {
  override def shortName(): String = "shapefile"
  override def format: FeatureFormat = new ShapefileFormat
  protected override def newTable(schema: org.apache.spark.sql.types.StructType,
      files: Seq[String], opts: GdalOptions): org.apache.spark.sql.connector.catalog.Table =
    new ShapefileTable(schema, files, opts, format)
}

class ShapefileTable(schema: org.apache.spark.sql.types.StructType, files: Seq[String],
    opts: GdalOptions, format: FeatureFormat)
  extends FeatureTable("shapefile", schema, files, opts, format)
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.catalog.TableCapability
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.WriteBuilder = new ShapefileWriteBuilder(info)
}
