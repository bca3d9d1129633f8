package graft.sources.xml

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.locationtech.jts.geom.{Coordinate, GeometryFactory}

import graft.geom.GeomCodec
import graft.sources._

/** GPX vector reader (doc-claimed format #6, reference README.md:10) —
  * streaming StAX, with GDAL's five-layer model: `waypoints` (default),
  * `routes` (one LineString per rte), `tracks` (one MultiLineString per
  * trk), `route_points` and `track_points` (per-vertex point features
  * with parent fid / segment index). `layerName` / `layerIndex` select
  * the layer — the second genuinely multi-layer source after SpatiaLite.
  */
class GpxFormat extends FeatureFormat {
  override def extensions: Seq[String] = Seq(".gpx")

  private val layers = Seq("waypoints", "routes", "tracks", "route_points", "track_points")
  private val factory = new GeometryFactory()

  private def layerOf(opts: GdalOptions, path: String): String = opts.layerName match {
    case Some(n) =>
      layers.find(_.equalsIgnoreCase(n)).getOrElse(throw new IllegalArgumentException(
        s"$path has no layer '$n' (layers: ${layers.mkString(", ")})"))
    case None =>
      if (opts.layerIndex < 0 || opts.layerIndex >= layers.length)
        throw new IllegalArgumentException(
          s"$path layer index ${opts.layerIndex} out of range (0..${layers.length - 1})")
      layers(opts.layerIndex)
  }

  override def open(path: String, opts: GdalOptions): FeatureIterator = {
    val layer = layerOf(opts, path)
    val in = new java.io.FileInputStream(path)
    val xif = XMLInputFactory.newInstance()
    xif.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    xif.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = xif.createXMLStreamReader(in)
    // Parse eagerly per top-level element but stream between them: one
    // rte/trk is materialized at a time, wpt are one row each.
    val it = new Iterator[RawFeature] {
      private var idx = -1L
      private val queue = scala.collection.mutable.Queue.empty[RawFeature]

      private def fill(): Unit = {
        while (queue.isEmpty && r.hasNext) {
          if (r.next() == XMLStreamConstants.START_ELEMENT) r.getLocalName match {
            case "wpt" if layer == "waypoints" =>
              idx += 1
              queue += pointFeature(r, "wpt", idx, IndexedSeq.empty)
            case "rte" if layer == "routes" || layer == "route_points" =>
              idx += 1
              routeFeatures(r, idx, layer).foreach(queue += _)
            case "trk" if layer == "tracks" || layer == "track_points" =>
              idx += 1
              trackFeatures(r, idx, layer).foreach(queue += _)
            case _ => ()
          }
        }
      }

      override def hasNext: Boolean = { fill(); queue.nonEmpty }
      override def next(): RawFeature = { fill(); queue.dequeue() }
    }
    FeatureIterator(it, () => { r.close(); in.close() })
  }

  /** One point element (wpt/rtept/trkpt): lat/lon attributes + child
    * metadata (ele, time, name, desc, sym, type). */
  private def pointFeature(r: XMLStreamReader, tag: String, fid: Long,
      extra: IndexedSeq[(String, Any)]): RawFeature = {
    val lat = r.getAttributeValue(null, "lat").toDouble
    val lon = r.getAttributeValue(null, "lon").toDouble
    val props = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
    var done = false
    while (!done && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "ele" => props += "ele" -> r.getElementText.toDouble
          case n @ ("time" | "name" | "desc" | "sym" | "type" | "cmt") =>
            props += n -> r.getElementText
          case _ => ()
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == tag => done = true
        case _ => ()
      }
    }
    RawFeature(fid, GeomCodec.point(lon, lat), extra ++ props)
  }

  private def routeFeatures(r: XMLStreamReader, rteFid: Long,
      layer: String): Seq[RawFeature] = {
    var name: String = null
    val pts = scala.collection.mutable.ArrayBuffer.empty[RawFeature]
    val coords = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
    var done = false
    var ptIdx = 0L
    while (!done && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "name" => name = r.getElementText
          case "rtept" =>
            val lat = r.getAttributeValue(null, "lat").toDouble
            val lon = r.getAttributeValue(null, "lon").toDouble
            coords += new Coordinate(lon, lat)
            if (layer == "route_points") {
              pts += pointFeature(r, "rtept", ptIdx,
                IndexedSeq("route_fid" -> rteFid, "route_point_id" -> ptIdx))
            } else skipElement(r, "rtept")
            ptIdx += 1
          case _ => ()
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "rte" => done = true
        case _ => ()
      }
    }
    if (layer == "route_points") pts.toSeq
    else {
      val geom = if (coords.length >= 2) GeomCodec.toWkb(
        factory.createLineString(coords.toArray)) else null
      Seq(RawFeature(rteFid, geom, IndexedSeq("name" -> name, "n_points" -> coords.length)))
    }
  }

  private def trackFeatures(r: XMLStreamReader, trkFid: Long,
      layer: String): Seq[RawFeature] = {
    var name: String = null
    val pts = scala.collection.mutable.ArrayBuffer.empty[RawFeature]
    val segs = scala.collection.mutable.ArrayBuffer.empty[Array[Coordinate]]
    var seg = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
    var segIdx = -1L
    var ptIdx = 0L
    var done = false
    while (!done && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "name" => name = r.getElementText
          case "trkseg" =>
            segIdx += 1
            seg = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
          case "trkpt" =>
            val lat = r.getAttributeValue(null, "lat").toDouble
            val lon = r.getAttributeValue(null, "lon").toDouble
            seg += new Coordinate(lon, lat)
            if (layer == "track_points") {
              pts += pointFeature(r, "trkpt", ptIdx,
                IndexedSeq("track_fid" -> trkFid, "track_seg_id" -> segIdx,
                  "track_point_id" -> ptIdx))
            } else skipElement(r, "trkpt")
            ptIdx += 1
          case _ => ()
        }
        case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
          case "trkseg" => if (seg.length >= 2) segs += seg.toArray
          case "trk" => done = true
          case _ => ()
        }
        case _ => ()
      }
    }
    if (layer == "track_points") pts.toSeq
    else {
      val geom = if (segs.nonEmpty) GeomCodec.toWkb(factory.createMultiLineString(
        segs.map(factory.createLineString).toArray)) else null
      Seq(RawFeature(trkFid, geom,
        IndexedSeq("name" -> name, "n_segments" -> segs.length)))
    }
  }

  /** Consume through the END_ELEMENT of `tag` (cursor on its START). */
  private def skipElement(r: XMLStreamReader, tag: String): Unit = {
    var depth = 1
    while (depth > 0 && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ => ()
      }
    }
  }
}

class GpxSourceProvider extends WritableFeatureSourceProvider {
  override def format: FeatureFormat = new GpxFormat
  override def shortName(): String = "gpx"
  override def sink: FeatureSink = GpxSink
}
