package graft.sources.gpkg

import graft.geom.GeomCodec
import graft.sources._
import graft.sources.spatialite.{SqliteFile, SqliteVectorFormat}

/** GeoPackage geometry blob codec (OGC 12-128r17 §2.1.3 "GeoPackageBinary"):
  * magic 'GP', version, flags (bit 0 = header byte order, bits 1-3 =
  * envelope indicator, bit 4 = empty flag), int32 srs_id, optional
  * envelope doubles, then a standard WKB body — so decode is a header
  * skip and encode is a header prepend around [[GeomCodec]]'s WKB.
  */
object GpkgGeom {
  /** GeoPackage binary → standard WKB; null for empty/undecodable blobs. */
  def toWkb(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 8 || b(0) != 'G'.toByte || b(1) != 'P'.toByte) return null
    val flags = b(3) & 0xFF
    val envLen = ((flags >> 1) & 0x7) match {
      case 0 => 0
      case 1 => 32 // [minx maxx miny maxy]
      case 2 | 3 => 48 // + Z or M range
      case 4 => 64 // + Z and M ranges
      case _ => return null // 5-7 invalid per spec
    }
    val off = 8 + envLen
    if ((flags & 0x10) != 0 || b.length <= off) return null // empty geometry
    java.util.Arrays.copyOfRange(b, off, b.length)
  }

  /** JTS geometry → GeoPackage binary: big-endian header, XY envelope. */
  def fromJts(g: org.locationtech.jts.geom.Geometry, srid: Int): Array[Byte] = {
    val wkb = GeomCodec.toWkb(g)
    val env = g.getEnvelopeInternal
    val buf = java.nio.ByteBuffer.allocate(8 + 32 + wkb.length) // BE default
    buf.put('G'.toByte).put('P'.toByte).put(0.toByte)
      .put(0x02.toByte) // big-endian header, envelope indicator 1 (XY)
      .putInt(srid)
      .putDouble(env.getMinX).putDouble(env.getMaxX)
      .putDouble(env.getMinY).putDouble(env.getMaxY)
      .put(wkb)
    buf.array()
  }
}

/** GeoPackage (OGC 12-128r17) vector source — the most widely deployed
  * GDAL vector container (the reference reads it through GDAL's driver
  * allow-list, reference src/lib.rs:207-247; any-driver read claim
  * README.md:9). Pure JVM on the shared SQLite stack: pages/b-trees via
  * [[SqliteFile]], layers from `gpkg_geometry_columns` (fallback:
  * `gpkg_contents` rows with data_type = 'features', then every user
  * table), geometry blobs via [[GpkgGeom]].
  */
class GpkgFormat extends SqliteVectorFormat {
  override def extensions: Seq[String] = Seq(".gpkg")

  private def isInternal(name: String): Boolean = {
    val n = name.toLowerCase
    n.startsWith("gpkg_") || n.startsWith("rtree_") || n.startsWith("sqlite_")
  }

  protected override def discoverLayers(f: SqliteFile): Seq[Layer] = {
    val tables = f.master.filter(_.typ == "table")
    val byName = tables.map(r => r.name.toLowerCase -> r).toMap
    val geomCols = byName.get("gpkg_geometry_columns").toSeq.flatMap { gc =>
      f.scanTable(gc.rootPage).map(_._2).collect {
        case vals if vals.length >= 2 &&
          vals(0).isInstanceOf[String] && vals(1).isInstanceOf[String] =>
          (vals(0).asInstanceOf[String], vals(1).asInstanceOf[String])
      }.toSeq.sortBy(_._1)
    }
    if (geomCols.nonEmpty) geomCols.flatMap { case (tbl, gcol) =>
      byName.get(tbl.toLowerCase).map(r =>
        Layer(r.name, Some(gcol), r.rootPage, SqliteFile.columnsOf(r.sql)))
    } else {
      val features = byName.get("gpkg_contents").toSeq.flatMap { c =>
        f.scanTable(c.rootPage).map(_._2).collect {
          case vals if vals.length >= 2 && vals(0).isInstanceOf[String] &&
            vals(1) == "features" => vals(0).asInstanceOf[String]
        }.toSeq.sorted
      }
      val candidates =
        if (features.nonEmpty) features.flatMap(n => byName.get(n.toLowerCase))
        else tables.filterNot(t => isInternal(t.name))
      candidates.map(r => Layer(r.name, None, r.rootPage, SqliteFile.columnsOf(r.sql)))
    }
  }

  protected override def blobToWkb(b: Array[Byte]): Array[Byte] = GpkgGeom.toWkb(b)
}

class GpkgSourceProvider extends WritableFeatureSourceProvider {
  override def format: FeatureFormat = new GpkgFormat
  override def shortName(): String = "gpkg"
  override def sink: FeatureSink = GpkgSink
}
