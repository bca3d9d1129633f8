package graft.sources.geojson

import scala.collection.immutable.ArraySeq

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonParser, JsonToken, StreamReadFeature}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.geom.GeomCodec
import graft.sources.{NameSlots, ValueSink}

/** Decodes GeoJSON Feature objects straight off a Jackson parser's tokens
  * into a [[ValueSink]], as a Jackson tree of the feature reads: the last
  * `id`, `geometry` and `properties` member wins, a property key that
  * repeats keeps its last value, JSON ints are Int or Long by magnitude,
  * floats are Double, arrays are lists and nested objects are their JSON
  * text. Property names map to the sink's slots through a [[NameSlots]]
  * memo; a property the sink does not read is skipped undecoded. Only the
  * geometry and nested-object values are read into (small) trees. One per
  * reader; not thread-safe. */
private[geojson] final class GeoJsonFeatures(sink: ValueSink) {
  import GeoJsonFeatures._

  private val names = new NameSlots
  private var slots = Array.fill(16)(Unresolved) // the sink's slot by name slot

  private def slotAt(pos: Int, name: String): Int = {
    val id = names.slotAt(pos, name)
    if (id >= slots.length) {
      val grown = Array.fill(math.max(id + 1, slots.length * 2))(Unresolved)
      System.arraycopy(slots, 0, grown, 0, slots.length)
      slots = grown
    }
    if (slots(id) == Unresolved) slots(id) = sink.slot(name)
    slots(id)
  }

  /** The Feature object `p` stands on (START_OBJECT), read up to its
    * END_OBJECT, its properties put into the sink; its id and geometry
    * come back in the [[Tokens]], the geometry not yet decoded. */
  def read(p: JsonParser): Tokens = {
    var hasId = false
    var id = 0L
    var geometry: Tokens.Geometry = null
    var props = false
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val key = p.currentName
      val t = p.nextToken()
      if (key == "id") {
        hasId = false
        t match {
          case JsonToken.VALUE_NUMBER_INT => // BIG_INTEGER: beyond Long range
            if (p.getNumberType != JsonParser.NumberType.BIG_INTEGER) { hasId = true; id = p.getLongValue }
          case JsonToken.VALUE_NUMBER_FLOAT =>
            val d = p.getDoubleValue
            if (d >= Long.MinValue.toDouble && d <= Long.MaxValue.toDouble) { hasId = true; id = d.toLong }
          case _ => p.skipChildren()
        }
      } else if (key == "geometry")
        geometry =
          if (t == JsonToken.VALUE_NULL) null
          else if (t == JsonToken.START_OBJECT) readGeometry(p)
          else new Tokens.Geometry(mapper.readTree[JsonNode](p))
      else if (key == "properties") {
        if (props) sink.clearProps()
        props = true
        if (t == JsonToken.START_OBJECT) {
          var pos = 0
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            val name = p.currentName
            p.nextToken()
            val s = slotAt(pos, name)
            if (s < 0) p.skipChildren() else put(p, s)
            pos += 1
          }
        } else p.skipChildren()
      } else p.skipChildren()
    }
    new Tokens(hasId, id, geometry)
  }

  private var coords = new Array[Double](4)

  /** The geometry object `p` stands on (START_OBJECT), read up to its
    * END_OBJECT. A Point whose `coordinates` are plain numbers is kept as
    * its x and y, with no tree; any other geometry becomes the Jackson tree
    * of the object (the members read so far rebuilt as nodes that decode
    * alike), decoded, or found malformed, only when its WKB is asked for. */
  private def readGeometry(p: JsonParser): Tokens.Geometry = {
    var typ: String = null
    var n = -1 // the numbers of a plain `coordinates` array; -1 for none
    var node: ObjectNode = null
    def tree(): ObjectNode = {
      if (node == null) {
        node = mapper.createObjectNode()
        if (typ != null) node.put("type", typ)
        if (n >= 0) { val a = node.putArray("coordinates"); (0 until n).foreach(i => a.add(coords(i))) }
      }
      node
    }
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val key = p.currentName
      val t = p.nextToken()
      if (node == null && key == "type" && t == JsonToken.VALUE_STRING) typ = p.getText
      else if (node == null && key == "coordinates" && t == JsonToken.START_ARRAY) {
        n = 0
        var e = p.nextToken()
        while (e == JsonToken.VALUE_NUMBER_INT || e == JsonToken.VALUE_NUMBER_FLOAT) {
          if (n == coords.length) coords = java.util.Arrays.copyOf(coords, n * 2)
          coords(n) = p.getDoubleValue
          n += 1
          e = p.nextToken()
        }
        if (e != JsonToken.END_ARRAY) { // not plain numbers: the rest as trees
          val a = tree().get("coordinates").asInstanceOf[ArrayNode]
          while (e != JsonToken.END_ARRAY && e != null) { a.add(mapper.readTree[JsonNode](p)); e = p.nextToken() }
        }
      } else tree().set[JsonNode](key, mapper.readTree[JsonNode](p))
    }
    if (node == null && n >= 2 && typ == "Point") new Tokens.Geometry(null, coords(0), coords(1))
    else new Tokens.Geometry(tree())
  }

  /** Puts the value whose first token `p` stands on; leaves `p` on the
    * value's last token. */
  private def put(p: JsonParser, s: Int): Unit = p.currentToken match {
    case JsonToken.VALUE_NULL => sink.putNull(s)
    case JsonToken.VALUE_NUMBER_INT => p.getNumberType match { // by magnitude
      case JsonParser.NumberType.INT => sink.putInt(s, p.getIntValue)
      case JsonParser.NumberType.LONG => sink.putLong(s, p.getLongValue)
      case _ => sink.putLong(s, p.getBigIntegerValue.longValue) // a tree's `asLong`: the low 64 bits
    }
    case JsonToken.VALUE_NUMBER_FLOAT => sink.putDouble(s, p.getDoubleValue)
    case JsonToken.VALUE_TRUE => sink.putBoolean(s, true)
    case JsonToken.VALUE_FALSE => sink.putBoolean(s, false)
    case JsonToken.START_ARRAY => sink.putList(s, value(p).asInstanceOf[Seq[Any]])
    case JsonToken.START_OBJECT => sink.putString(s, mapper.readTree[JsonNode](p).toString)
    case _ => sink.putString(s, p.getText)
  }
}

private[geojson] object GeoJsonFeatures {
  /** Every GeoJSON reader's parsers come from this mapper's factory. Its
    * doubles go through Jackson's fast parser, which rounds as
    * `Double.parseDouble` does. */
  val mapper = new ObjectMapper(
    new JsonFactoryBuilder().enable(StreamReadFeature.USE_FAST_DOUBLE_PARSER).build())

  private final val Unresolved = -2

  /** A Feature's id and its geometry, not yet decoded. */
  final class Tokens(hasId: Boolean, id: Long, geometry: Tokens.Geometry) {
    /** The feature's fid: its integral `id`, else `idx`. */
    def fid(idx: Long): Long = if (hasId) id else idx
    def wkb: Array[Byte] = if (geometry == null) null else geometry.wkb
  }

  object Tokens {
    /** A geometry member: a Point's x and y, or else the member's tree. */
    final class Geometry(node: JsonNode, x: Double = 0.0, y: Double = 0.0) {
      def wkb: Array[Byte] = if (node == null) GeomCodec.point(x, y) else GeomCodec.geoJsonNodeToWkb(node)
    }
  }

  /** The value whose first token `p` stands on; leaves `p` on the value's
    * last token. */
  def value(p: JsonParser): Any = p.currentToken match {
    case JsonToken.VALUE_NULL => null
    case JsonToken.VALUE_NUMBER_INT => p.getNumberType match { // by magnitude
      case JsonParser.NumberType.INT => p.getIntValue
      case JsonParser.NumberType.LONG => p.getLongValue
      case _ => p.getBigIntegerValue.longValue // a tree's `asLong`: the low 64 bits
    }
    case JsonToken.VALUE_NUMBER_FLOAT => p.getDoubleValue
    case JsonToken.VALUE_TRUE => true
    case JsonToken.VALUE_FALSE => false
    case JsonToken.START_ARRAY =>
      val out = Vector.newBuilder[Any]
      var t = p.nextToken()
      while (t != JsonToken.END_ARRAY && t != null) { out += value(p); t = p.nextToken() }
      out.result()
    case JsonToken.START_OBJECT => mapper.readTree[JsonNode](p).toString
    case _ => p.getText
  }
}

/** One JSON object's members in the order a Jackson tree keeps them (the
  * type pass's view of `properties`): a key that repeats keeps its first
  * position and takes its last value. Keys
  * are told apart by slots in a table shared by all the objects a reader
  * sees ([[NameSlots]]), so an object whose keys come in the previous
  * one's order costs no hashing. Not thread-safe. */
private[geojson] final class Members[V] {
  private val slots = new NameSlots
  private var stamp = new Array[Int](16) // the object that last used a slot
  private var at = new Array[Int](16) // the slot's position in that object
  private var objects = 0
  private var names = new Array[String](16)
  private var values = new Array[Any](16)
  private var n = 0

  /** The members of the object `p` stands on (START_OBJECT), each value
    * read by `value`; leaves `p` on the object's END_OBJECT. */
  def read(p: JsonParser)(value: JsonParser => V): IndexedSeq[(String, V)] = {
    if (objects == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); objects = 0 }
    objects += 1
    n = 0
    var pos = 0
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val name = p.currentName
      p.nextToken()
      add(slots.slotAt(pos, name), name, value(p))
      pos += 1
    }
    val out = new Array[(String, V)](n)
    var i = 0
    while (i < n) { out(i) = (names(i), values(i).asInstanceOf[V]); i += 1 }
    ArraySeq.unsafeWrapArray(out)
  }

  private def add(s: Int, name: String, v: V): Unit = {
    if (s >= stamp.length) {
      stamp = Array.copyOf(stamp, math.max(s + 1, stamp.length * 2))
      at = Array.copyOf(at, stamp.length)
    }
    if (stamp(s) == objects) values(at(s)) = v
    else {
      if (n == names.length) {
        names = Array.copyOf(names, n * 2)
        values = Array.copyOf(values, n * 2)
      }
      stamp(s) = objects
      at(s) = n
      names(n) = name
      values(n) = v
      n += 1
    }
  }
}
