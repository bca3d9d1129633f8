package graft.sources.xml

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, LinearRing}

import graft.geom.GeomCodec
import graft.sources._

/** GML (OGC Geography Markup Language) vector reader — the classic WFS /
  * INSPIRE interchange format, part of the reference's "anything the GDAL
  * driver list covers" read surface (README.md:3-13). Streaming StAX,
  * one `featureMember`/`member` per feature, memory O(feature) like the
  * KML reader.
  *
  * Scope (GDAL's simple-features subset): feature properties are leaf
  * elements with text content (wrappers are transparent, so
  * `<app:attr><app:name>x</app:name></app:attr>` still yields `name`);
  * the feature element's `gml:id` becomes a `gml_id` column (GDAL's
  * convention); geometry from gml:Point/LineString/Curve/Polygon/Surface
  * and their Multi* containers, coordinates via `pos`, `posList`, or
  * GML2 `coordinates`. Axis order is taken as written (x y); srsName
  * reprojection is out of scope, as in the reference (GDAL reads, never
  * reprojects — src/lib.rs:316-330 filters, doesn't transform).
  *
  * Layers: GDAL's GML driver maps distinct feature types to layers; here
  * `layerName` filters to one feature-type element name, default = all
  * types in document order (their union schema, absent fields null — the
  * schema-inference rules S1/P3/P4 already handle ragged features).
  */
class GmlFormat extends FeatureFormat {
  override def extensions: Seq[String] = Seq(".gml", ".xml")

  private val factory = new GeometryFactory()

  private val GeomNames = Set("Point", "LineString", "Curve", "Polygon",
    "Surface", "MultiPoint", "MultiLineString", "MultiCurve", "MultiPolygon",
    "MultiSurface", "MultiGeometry")
  private val MemberNames = Set("featureMember", "member", "featureMembers")

  override def open(path: String, opts: GdalOptions): FeatureIterator = {
    val in = new java.io.FileInputStream(path)
    val xif = XMLInputFactory.newInstance()
    xif.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    xif.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    // close the stream ourselves if reader construction fails (malformed
    // prolog etc.) — the close callback below is only wired once the
    // FeatureIterator exists
    val r = try xif.createXMLStreamReader(in)
      catch { case e: Throwable => in.close(); throw e }
    val wantType = opts.layerName.orNull
    var idx = -1L
    var inMember = false
    var plural = false // <featureMembers> (GML 3.1) holds MANY features
    val it = new Iterator[RawFeature] {
      private var nextF: RawFeature = advance()

      private def advance(): RawFeature = {
        while (r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT
                if MemberNames.contains(r.getLocalName) =>
              inMember = true
              plural = r.getLocalName == "featureMembers"
            case XMLStreamConstants.START_ELEMENT if inMember =>
              // element inside the member = a typed feature; the plural
              // container keeps accepting siblings after each one
              val typeName = r.getLocalName
              inMember = plural
              if (wantType == null || wantType == typeName) {
                idx += 1
                return readFeature(r, typeName, idx)
              } else skipElement(r)
            case XMLStreamConstants.END_ELEMENT
                if MemberNames.contains(r.getLocalName) =>
              inMember = false
              plural = false
            case _ => ()
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

  /** Consume the element the cursor is on, through its END_ELEMENT. */
  private def skipElement(r: XMLStreamReader): Unit = {
    var depth = 1
    while (depth > 0 && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ => ()
      }
    }
  }

  /** Cursor on the typed feature element's START. Walks its subtree:
    * geometry elements parse as JTS, leaf text elements become
    * properties (first occurrence wins), wrappers are transparent. */
  private def readFeature(r: XMLStreamReader, typeName: String,
      idx: Long): RawFeature = {
    val props = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
    val seen = scala.collection.mutable.HashSet.empty[String]
    val geoms = scala.collection.mutable.ArrayBuffer.empty[Geometry]
    val gmlId = r.getAttributeValue("http://www.opengis.net/gml", "id") match {
      case null => r.getAttributeValue(null, "id")
      case v => v
    }
    if (gmlId != null) { props += "gml_id" -> gmlId; seen += "gml_id" }

    // stack of (localName, textBuffer, sawChildElement)
    val stack = scala.collection.mutable.Stack.empty[(String, StringBuilder, Array[Boolean])]
    var done = false
    while (!done && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          val name = r.getLocalName
          if (GeomNames.contains(name)) {
            Option(readGmlGeometry(r, name)).foreach(geoms += _)
          } else {
            if (stack.nonEmpty) stack.top._3(0) = true
            stack.push((name, new StringBuilder, Array(false)))
          }
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (stack.nonEmpty) stack.top._2.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          if (r.getLocalName == typeName && stack.isEmpty) done = true
          else if (stack.nonEmpty && stack.top._1 == r.getLocalName) {
            val (name, buf, sawChild) = stack.pop()
            val text = buf.toString.trim
            if (!sawChild(0) && text.nonEmpty && !seen.contains(name)) {
              props += name -> text
              seen += name
            }
          }
        case _ => ()
      }
    }
    val geom = geoms.length match {
      case 0 => null
      case 1 => geoms.head
      case _ => factory.buildGeometry(java.util.Arrays.asList(geoms.toArray: _*))
    }
    RawFeature(idx, if (geom == null) null else GeomCodec.toWkb(geom),
      props.toIndexedSeq)
  }

  /** Parse one GML geometry element (cursor on its START), consuming
    * through its END. Returns null (not an exception) when the element
    * carries no parseable coordinates — one malformed feature must
    * degrade to a null geometry, never abort the scan (the ragged-data
    * contract every reader here follows). */
  private def readGmlGeometry(r: XMLStreamReader, kind: String): Geometry = kind match {
    case "Point" =>
      readCoords(r, kind).headOption.map(factory.createPoint).orNull
    case "LineString" | "Curve" =>
      val cs = readCoords(r, kind)
      if (cs.length < 2) null else factory.createLineString(cs.toArray)
    case "Polygon" | "Surface" =>
      var outer: LinearRing = null
      val holes = scala.collection.mutable.ArrayBuffer.empty[LinearRing]
      var inExterior = false
      var done = false
      while (!done && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "exterior" | "outerBoundaryIs" => inExterior = true
            case "interior" | "innerBoundaryIs" => inExterior = false
            case "LinearRing" =>
              val cs = closeRing(readCoords(r, "LinearRing"))
              if (cs.length >= 4) {
                val ring = factory.createLinearRing(cs.toArray)
                if (inExterior || outer == null) outer = ring else holes += ring
              }
            case _ => ()
          }
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == kind => done = true
          case _ => ()
        }
      }
      if (outer == null) null else factory.createPolygon(outer, holes.toArray)
    case _ => // Multi* containers: collect children until the container ends
      val parts = scala.collection.mutable.ArrayBuffer.empty[Geometry]
      var done = false
      while (!done && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT
              if GeomNames.contains(r.getLocalName) && r.getLocalName != kind =>
            Option(readGmlGeometry(r, r.getLocalName)).foreach(parts += _)
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == kind => done = true
          case _ => ()
        }
      }
      factory.buildGeometry(java.util.Arrays.asList(parts.toArray: _*))
  }

  /** Coordinates from `pos` ("x y"), `posList` ("x1 y1 x2 y2 …"), or GML2
    * `coordinates` ("x1,y1 x2,y2 …"), consumed through `outer`'s END. */
  private def readCoords(r: XMLStreamReader, outer: String): Seq[Coordinate] = {
    val coords = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
    var done = false
    while (!done && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "pos" =>
            val p = r.getElementText.trim.split("\\s+")
            coords += new Coordinate(p(0).toDouble, p(1).toDouble)
          case "posList" =>
            // srsDimension=3 posLists carry elevation: step by dim, keep xy
            val dim = Option(r.getAttributeValue(null, "srsDimension"))
              .flatMap(d => scala.util.Try(d.toInt).toOption).filter(_ >= 2)
              .getOrElse(2)
            val p = r.getElementText.trim.split("\\s+").filter(_.nonEmpty)
            var i = 0
            while (i + 1 < p.length) {
              coords += new Coordinate(p(i).toDouble, p(i + 1).toDouble)
              i += dim
            }
          case "coordinates" =>
            r.getElementText.trim.split("\\s+").filter(_.nonEmpty).foreach { t =>
              val parts = t.split(",")
              coords += new Coordinate(parts(0).toDouble, parts(1).toDouble)
            }
          case _ => ()
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == outer => done = true
        case _ => ()
      }
    }
    coords.toSeq
  }

  private def closeRing(cs: Seq[Coordinate]): Seq[Coordinate] =
    if (cs.nonEmpty && cs.head != cs.last) cs :+ cs.head.copy() else cs
}

class GmlSourceProvider extends WritableFeatureSourceProvider {
  override def format: FeatureFormat = new GmlFormat
  override def shortName(): String = "gml"
  override def sink: FeatureSink = GmlSink
}
