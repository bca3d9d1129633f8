package graft.sources.spatialite

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.types.{DataType, LongType, NullType}

import graft.sources._

/** Shared machinery for SQLite-container vector formats (SpatiaLite,
  * GeoPackage): layer selection over discovered spatial tables, row
  * streaming with IPK/rowid handling, and b-tree-child split planning.
  * Subclasses supply layer discovery (each container has its own metadata
  * tables) and the geometry-blob → WKB codec.
  *
  * Scale notes: a table's b-tree splits by top-level interior children —
  * each subtree is an independent InputPartition streaming its leaves, so
  * one big database table parallelizes without a full-file scan per task.
  */
abstract class SqliteVectorFormat extends ColumnarFormat {

  protected case class Layer(table: String, geomCol: Option[String], rootPage: Int,
      cols: IndexedSeq[(String, Boolean)]) {
    /** Position of the geometry column among `cols`; -1 for none. */
    def geomIdx: Int = geomCol.fold(-1)(g => cols.indexWhere(_._1.equalsIgnoreCase(g)))
  }

  /** The container's layer list, in deterministic order. */
  protected def discoverLayers(f: SqliteFile): Seq[Layer]

  /** Container geometry blob → standard WKB (null for undecodable). */
  protected def blobToWkb(b: Array[Byte]): Array[Byte]

  private def selectLayer(f: SqliteFile, path: String, opts: GdalOptions): Layer = {
    val ls = discoverLayers(f)
    if (ls.isEmpty) throw new IllegalArgumentException(s"$path has no readable layers")
    opts.layerName match {
      case Some(n) =>
        ls.find(_.table.equalsIgnoreCase(n)).getOrElse(throw new IllegalArgumentException(
          s"$path has no layer '$n' (layers: ${ls.map(_.table).mkString(", ")})"))
      case None =>
        if (opts.layerIndex < 0 || opts.layerIndex >= ls.length)
          throw new IllegalArgumentException(
            s"$path layer index ${opts.layerIndex} out of range (0..${ls.length - 1})")
        ls(opts.layerIndex)
    }
  }

  /** Opens `roots`' rows of `layer` for a decode loop into `sink`. */
  private def rows(f: SqliteFile, layer: Layer, roots: Seq[Int], sink: ValueSink): FeatureCursor = {
    val cols = layer.cols
    val geomIdx = layer.geomIdx
    val props = cols.indices.filter(_ != geomIdx)
    val bound = sink.bind(props.map(cols(_)._1))
    val slots = Array.fill(cols.length)(-1)
    props.indices.foreach(k => slots(props(k)) = bound(k))
    val ipk = cols.map(_._2).toArray
    val cells = roots.iterator.flatMap(f.scanCells)
    new FeatureCursor {
      override def next(): Boolean = cells.hasNext && {
        val (rowid, payload) = cells.next()
        sink.fid(rowid)
        val blob = f.putRecord(payload, rowid, slots, ipk, geomIdx, sink)
        sink.geometry(if (blob == null) null else blobToWkb(blob))
        true
      }
      // known without a scan only for a table that fits its root page
      override def sizeHint: Long = if (roots.length == 1) f.leafCells(roots.head) else -1L
      override def close(): Unit = f.close()
    }
  }

  /** Each row's props in column order (the geometry column left out),
    * under the layer's own name instances; a record shorter than the
    * column list reads null for the missing cells. A split's rows are
    * the leaves under its b-tree children. */
  override def cursor(spec: SplitSpec, opts: GdalOptions, sink: ValueSink): FeatureCursor = {
    val f = new SqliteFile(spec.path)
    try {
      val layer = selectLayer(f, spec.path, opts)
      val roots =
        if (spec.startRecord == 0L && spec.numRecords == -1L) Seq(layer.rootPage)
        else f.childPages(layer.rootPage).slice(spec.startRecord.toInt,
          (spec.startRecord + spec.numRecords).toInt)
      rows(f, layer, roots, sink)
    } catch { case e: Throwable => f.close(); throw e }
  }

  /** Types from the record headers' serial types alone — the storage
    * class of each cell — with no text or blob decoded. */
  override def openTypes(path: String, opts: GdalOptions): TypeIterator = {
    val f = new SqliteFile(path)
    val layer = selectLayer(f, path, opts)
    val cols = layer.cols
    val props = cols.indices.filter(_ != layer.geomIdx).toArray
    val it = f.scanSerialTypes(layer.rootPage).map { serials =>
      val out = new Array[(String, DataType)](props.length)
      var k = 0
      while (k < props.length) {
        val i = props(k)
        val (name, isIpk) = cols(i)
        out(k) = (name,
          if (isIpk) LongType
          else if (i < serials.length) SqliteFile.valueType(serials(i))
          else NullType)
        k += 1
      }
      ArraySeq.unsafeWrapArray(out): SchemaInference.FeatureTypes
    }
    TypeIterator(it, () => f.close())
  }

  /** One split per top-level b-tree child of the layer's root (leaf root
    * → one split). `startRecord`/`numRecords` carry the child range. */
  override def planSplits(path: String, opts: GdalOptions): Seq[SplitSpec] = {
    val f = new SqliteFile(path)
    try {
      val layer = selectLayer(f, path, opts)
      val children = f.childPages(layer.rootPage)
      if (children.isEmpty) Seq(SplitSpec(path, 0L, -1L))
      else children.indices.map(i => SplitSpec(path, i.toLong, 1L))
    } finally f.close()
  }
}

/** SpatiaLite (SQLite) vector source — the one reference-tested read path
  * that round 1 lacked (reference src/test.rs:37-39 reads
  * `test_spatialite.sqlite`; format claim README.md:9). Pure-JVM: SQLite
  * b-tree pages via [[SqliteFile]], SpatiaLite geometry blobs via
  * [[SpatiaLiteGeom]].
  *
  * Layers == spatial tables. The layer list is `geometry_columns`
  * (f_table_name, f_geometry_column) when present — exactly GDAL's
  * behavior — else every user table; `layerName` / `layerIndex` select
  * among them (selection order name → index → 0, reference
  * src/lib.rs:241-247), which makes those options genuinely multi-layer
  * here (SURVEY.md §2 S4).
  */
class SpatiaLiteFormat extends SqliteVectorFormat {
  override def extensions: Seq[String] = Seq(".sqlite", ".db", ".spatialite")

  /** Spatialite metadata / internal tables never offered as layers. */
  private val internal = Set("geometry_columns", "spatial_ref_sys", "spatialite_history",
    "sql_statements_log", "sqlite_sequence", "sqlite_stat1", "sqlite_stat3", "sqlite_stat4",
    "elementarygeometries", "geom_cols_ref_sys", "spatialindex")
  private def isInternal(name: String): Boolean = {
    val n = name.toLowerCase
    n.startsWith("sqlite_") || n.startsWith("idx_") || n.startsWith("virts_") ||
      n.startsWith("views_geometry_columns") || n.startsWith("geometry_columns") ||
      internal.contains(n)
  }

  protected override def discoverLayers(f: SqliteFile): Seq[Layer] = {
    val tables = f.master.filter(_.typ == "table")
    val byName = tables.map(r => r.name.toLowerCase -> r).toMap
    val geomCols = byName.get("geometry_columns").toSeq.flatMap { gc =>
      f.scanTable(gc.rootPage).map(_._2).collect {
        case vals if vals.length >= 2 &&
          vals(0).isInstanceOf[String] && vals(1).isInstanceOf[String] =>
          (vals(0).asInstanceOf[String], vals(1).asInstanceOf[String])
      }.toSeq.sortBy(_._1)
    }
    if (geomCols.nonEmpty) geomCols.flatMap { case (tbl, gcol) =>
      byName.get(tbl.toLowerCase).map(r =>
        Layer(r.name, Some(gcol), r.rootPage, SqliteFile.columnsOf(r.sql)))
    } else tables.filterNot(t => isInternal(t.name)).map(r =>
      Layer(r.name, None, r.rootPage, SqliteFile.columnsOf(r.sql)))
  }

  protected override def blobToWkb(b: Array[Byte]): Array[Byte] =
    SpatiaLiteGeom.toWkb(b)
}

class SpatiaLiteSourceProvider extends WritableFeatureSourceProvider {
  override def format: FeatureFormat = new SpatiaLiteFormat
  override def shortName(): String = "spatialite"
  override def sink: FeatureSink = SpatiaLiteSink
}
