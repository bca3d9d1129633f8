package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Reader/writer options — 1:1 with the reference's `ReadParams` /
  * `WriteParams` (reference src/lib.rs:29-112):
  *
  *   - layerName / layerIndex      (src/lib.rs:62-67; selection order
  *                                  name → index → 0, :241-247)
  *   - fidColumnName               (:69-70; off by default)
  *   - geometryColumnName          (:77-78; default "geometry")
  *   - geometryFormat wkb|wkt|geojson (:126-155; default wkb)
  *   - offset                      (:86-88; scan-time skip)
  *   - limit                       (truncating_limit :80-82 — absolute cap;
  *                                  we use sane rows-after-offset semantics,
  *                                  SURVEY.md §2.3 L2)
  *   - maxFeatures                 (erroring_limit :83-84 → error past cap)
  *   - xPossibleNames / yPossibleNames  (CSV lat/lon, README.md:46-54;
  *                                  comma-separated globs)
  *   - autodetectTypes             (CSV: GDAL's AUTODETECT_TYPE open option)
  */
case class GdalOptions(
    layerName: Option[String],
    layerIndex: Int,
    fidColumnName: Option[String],
    geometryColumnName: String,
    geometryFormat: String,
    offset: Long,
    limit: Option[Long],
    maxFeatures: Option[Long],
    xPossibleNames: Seq[String],
    yPossibleNames: Seq[String],
    autodetectTypes: Boolean,
    inferLimit: Long,
    splitRecords: Long,
    /** Spatial filter "xmin,ymin,xmax,ymax" — the reference's
      * `set_spatial_filter` seam (src/lib.rs:316-319). Served from the
      * format's native index where one exists (FlatGeobuf packed R-tree,
      * shapefile header/record boxes); envelope-level, so pair it with an
      * exact residual predicate when envelope hits aren't enough. */
    bbox: Option[graft.sources.flatgeobuf.FgbIndex.Box] = None,
    /** Writer SRS (reference `WriteParams.srs`, src/lib.rs:106):
      * "EPSG:nnnn" or a raw WKT string. Shapefile writers emit a .prj
      * sidecar; SpatiaLite stores the srid; formats with no SRS slot
      * (RFC-7946 GeoJSON) ignore it. */
    srs: Option[String] = None,
    /** Writer layer geometry type (reference `WriteParams.geometry_type`,
      * src/lib.rs:109): point|linestring|polygon|multipoint|
      * multilinestring|multipolygon. None = auto-detect from the first
      * geometry, exactly like the reference (src/lib.rs:529-540). */
    geometryType: Option[String] = None) extends Serializable {
  require(Seq("wkb", "wkt", "geojson").contains(geometryFormat),
    s"geometryFormat must be wkb|wkt|geojson, got $geometryFormat")
}

object GdalOptions {
  def apply(map: CaseInsensitiveStringMap): GdalOptions = from(map.asCaseSensitiveMap.asScala.toMap)

  def from(m0: Map[String, String]): GdalOptions = {
    val m = m0.map { case (k, v) => k.toLowerCase -> v }
    GdalOptions(
      layerName = m.get("layername"),
      layerIndex = m.get("layerindex").map(_.toInt).getOrElse(0),
      fidColumnName = m.get("fidcolumnname"),
      geometryColumnName = m.getOrElse("geometrycolumnname", "geometry"),
      geometryFormat = m.getOrElse("geometryformat", "wkb").toLowerCase,
      offset = m.get("offset").map(_.toLong).getOrElse(0L),
      limit = m.get("limit").map(_.toLong),
      maxFeatures = m.get("maxfeatures").map(_.toLong),
      xPossibleNames = m.get("xpossiblenames").map(_.split(",").toSeq).getOrElse(Seq("lon*", "x")),
      yPossibleNames = m.get("ypossiblenames").map(_.split(",").toSeq).getOrElse(Seq("lat*", "y")),
      autodetectTypes = m.get("autodetecttypes").exists(_.toBoolean),
      inferLimit = m.get("inferlimit").map(_.toLong).getOrElse(Long.MaxValue),
      splitRecords = m.get("splitrecords").map(_.toLong).getOrElse(65536L),
      bbox = m.get("bbox").map(graft.sources.flatgeobuf.FgbIndex.Box.parse),
      srs = m.get("srs"),
      geometryType = m.get("geometrytype").map(_.toLowerCase))
  }
}

/** Error taxonomy parity (reference src/error.rs:6-55). The reference's
  * GeometryColumnCollision/FidColumnCollision variants are dead code there
  * (rename wins, src/lib.rs:453-463) — we keep the rename behavior. */
sealed abstract class GraftError(msg: String, cause: Throwable = null) extends RuntimeException(msg, cause)
object GraftError {
  final class EmptyData extends GraftError("Unable to read from empty data") // src/error.rs:16-18
  final class FeatureLimitReached(n: Long)
    extends GraftError(s"Feature limit of $n reached") // src/error.rs:28-30
  final class GeometryColumnWrongType(name: String)
    extends GraftError(s"Geometry column '$name' must be BinaryType (WKB) or StringType (WKT)") // src/error.rs:40-42
  final class UnableToDetermineGeometryType
    extends GraftError("Unable to determine geometry type from first row") // src/error.rs:44-46
  final class EmptyDataframe extends GraftError("Cannot write an empty dataframe") // src/error.rs:48-50
  final class CannotFindGeometryColumn(name: String)
    extends GraftError(s"Cannot find geometry column '$name'") // src/error.rs:52-54
  /** Input whose framing or content a reader cannot decode: a truncated
    * record, a length past the end of the file. The analogue of the
    * reference's passthrough of GDAL's own errors (src/error.rs:6-14);
    * `offset` is the byte of the file where the reader found the fault,
    * and `cause` the decode failure behind it, if any. */
  final class MalformedInput(val format: String, val path: String, val offset: Long, val detail: String,
      cause: Throwable = null)
    extends GraftError(s"Malformed $format input $path at byte $offset: $detail", cause)
  /** NOT in the reference taxonomy: its bytes writer (src/lib.rs:586-611)
    * is single-process by nature and can't overcommit a driver. Ours can —
    * toBytes collects through one JVM — so the size gate fails loudly
    * BEFORE compute instead of OOMing the driver at 100 TB. */
  final class DriverBytesTooLarge(estBytes: BigInt, capBytes: Long)
    extends GraftError(
      s"toBytes would materialize an estimated $estBytes bytes on the " +
        s"driver (cap $capBytes) — a bytes result is inherently " +
        "single-node; write distributed via df.write.format(...) instead, " +
        "or raise the cap explicitly with the 'maxBytes' option")
}
