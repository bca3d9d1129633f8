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
abstract class SqliteVectorFormat extends FeatureFormat {

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

  /** Each row's props in column order (the geometry column left out),
    * under the layer's own name instances; a record shorter than the
    * column list reads null for the missing cells. */
  private def rowsOf(f: SqliteFile, layer: Layer,
      roots: Seq[Int]): Iterator[RawFeature] = {
    val names = layer.cols.map(_._1).toArray
    val ipk = layer.cols.map(_._2).toArray
    val geomIdx = layer.geomIdx
    val width = if (geomIdx >= 0) names.length - 1 else names.length
    roots.iterator.flatMap(f.scanCells).map { case (rowid, payload) =>
      val vals = f.decodeValues(payload)
      val props = new Array[(String, Any)](width)
      var i = 0
      var k = 0
      while (i < names.length) {
        if (i != geomIdx) {
          // a non-geometry blob stays a BinaryType value
          props(k) = (names(i), if (ipk(i)) rowid else if (i < vals.length) vals(i) else null)
          k += 1
        }
        i += 1
      }
      val wkb = if (geomIdx >= 0 && geomIdx < vals.length) vals(geomIdx) match {
        case b: Array[Byte] => blobToWkb(b)
        case _ => null
      } else null
      RawFeature(rowid, wkb, ArraySeq.unsafeWrapArray(props))
    }
  }

  override def open(path: String, opts: GdalOptions): FeatureIterator = {
    val f = new SqliteFile(path)
    val layer = selectLayer(f, path, opts)
    FeatureIterator(rowsOf(f, layer, Seq(layer.rootPage)), () => f.close())
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

  override def openSplit(spec: SplitSpec, opts: GdalOptions): FeatureIterator = {
    if (spec.startRecord == 0L && spec.numRecords == -1L) open(spec.path, opts)
    else {
      val f = new SqliteFile(spec.path)
      val layer = selectLayer(f, spec.path, opts)
      val children = f.childPages(layer.rootPage)
      val slice = children.slice(spec.startRecord.toInt,
        (spec.startRecord + spec.numRecords).toInt)
      FeatureIterator(rowsOf(f, layer, slice), () => f.close())
    }
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
  protected override def newTable(schema: org.apache.spark.sql.types.StructType,
      files: Seq[String], opts: GdalOptions): org.apache.spark.sql.connector.catalog.Table =
    new SpatiaLiteTable(schema, files, opts, format)
}

class SpatiaLiteTable(schema: org.apache.spark.sql.types.StructType, files: Seq[String],
    opts: GdalOptions, format: FeatureFormat)
  extends FeatureTable("spatialite", schema, files, opts, format)
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.catalog.TableCapability
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.WriteBuilder = new SpatiaLiteWriteBuilder(info)
}
