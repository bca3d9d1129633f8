package graft.sources.xml

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, LinearRing}

import graft.geom.GeomCodec
import graft.sources._

/** KML vector reader (doc-claimed format #5, reference README.md:9) —
  * streaming StAX over the JDK's XML parser, one Placemark per feature.
  * Supported geometry: Point, LineString, LinearRing, Polygon
  * (outer/innerBoundaryIs), MultiGeometry; properties: name, description,
  * ExtendedData Data[name]/value and SchemaData SimpleData[name].
  * Memory is O(placemark), like the GeoJSON reader.
  */
class KmlFormat extends FeatureFormat {
  override def extensions: Seq[String] = Seq(".kml")

  private val factory = new GeometryFactory()

  override def open(path: String, opts: GdalOptions): FeatureIterator = {
    val in = new java.io.FileInputStream(path)
    val xif = XMLInputFactory.newInstance()
    xif.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    xif.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = xif.createXMLStreamReader(in)
    var idx = -1L
    val it = new Iterator[RawFeature] {
      private var nextF: RawFeature = advance()

      private def advance(): RawFeature = {
        while (r.hasNext) {
          if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "Placemark") {
            idx += 1
            return readPlacemark(r, idx)
          }
        }
        null
      }

      override def hasNext: Boolean = nextF != null
      override def next(): RawFeature = {
        val f = nextF
        nextF = advance()
        f
      }
    }
    FeatureIterator(it, () => { r.close(); in.close() })
  }

  private def readPlacemark(r: XMLStreamReader, idx: Long): RawFeature = {
    val props = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
    val geoms = scala.collection.mutable.ArrayBuffer.empty[Geometry]
    var dataName: String = null
    var done = false
    while (!done && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "name" => props += "name" -> r.getElementText
          case "description" => props += "description" -> r.getElementText
          case "Data" =>
            dataName = r.getAttributeValue(null, "name")
          case "value" if dataName != null =>
            props += dataName -> r.getElementText
            dataName = null
          case "SimpleData" =>
            val n = r.getAttributeValue(null, "name")
            if (n != null) props += n -> r.getElementText
          case "Point" | "LineString" | "LinearRing" | "Polygon" =>
            geoms += readGeometry(r, r.getLocalName)
          case _ => () // MultiGeometry etc: recurse implicitly via stream order
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "Placemark" => done = true
        case _ => ()
      }
    }
    val geom = geoms.length match {
      case 0 => null
      case 1 => geoms.head
      case _ => factory.buildGeometry(java.util.Arrays.asList(geoms.toArray: _*))
    }
    RawFeature(idx, if (geom == null) null else GeomCodec.toWkb(geom), props.toIndexedSeq)
  }

  /** Parse one geometry element (cursor on its START_ELEMENT). */
  private def readGeometry(r: XMLStreamReader, kind: String): Geometry = kind match {
    case "Point" =>
      factory.createPoint(readCoordinates(r, kind).head)
    case "LineString" =>
      factory.createLineString(readCoordinates(r, kind).toArray)
    case "LinearRing" =>
      factory.createLinearRing(closeRing(readCoordinates(r, kind)).toArray)
    case "Polygon" =>
      var outer: LinearRing = null
      val holes = scala.collection.mutable.ArrayBuffer.empty[LinearRing]
      var inOuter = false
      var done = false
      while (!done && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "outerBoundaryIs" => inOuter = true
            case "innerBoundaryIs" => inOuter = false
            case "LinearRing" =>
              val ring = factory.createLinearRing(closeRing(readCoordinates(r, "LinearRing")).toArray)
              if (inOuter || outer == null) outer = ring else holes += ring
            case _ => ()
          }
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "Polygon" => done = true
          case _ => ()
        }
      }
      factory.createPolygon(outer, holes.toArray)
  }

  /** Collect the <coordinates> tuples inside element `outer` and consume
    * through its END_ELEMENT. Tuples are "lon,lat[,alt]" separated by
    * whitespace; altitude is dropped (2D WKB). */
  private def readCoordinates(r: XMLStreamReader, outer: String): Seq[Coordinate] = {
    var coords: Seq[Coordinate] = Seq.empty
    var done = false
    while (!done && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "coordinates" =>
          coords = r.getElementText.trim.split("\\s+").toSeq.filter(_.nonEmpty).map { t =>
            val parts = t.split(",")
            new Coordinate(parts(0).toDouble, parts(1).toDouble)
          }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == outer => done = true
        case _ => ()
      }
    }
    coords
  }

  private def closeRing(cs: Seq[Coordinate]): Seq[Coordinate] =
    if (cs.nonEmpty && cs.head != cs.last) cs :+ cs.head.copy() else cs
}

class KmlSourceProvider extends WritableFeatureSourceProvider {
  override def format: FeatureFormat = new KmlFormat
  override def shortName(): String = "kml"
  override def sink: FeatureSink = KmlSink
}
