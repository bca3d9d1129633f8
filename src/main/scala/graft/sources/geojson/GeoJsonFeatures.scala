package graft.sources.geojson

import scala.collection.immutable.ArraySeq

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.geom.GeomCodec
import graft.sources.{NameSlots, RawFeature}

/** Decodes GeoJSON Feature objects straight off a Jackson parser's tokens
  * into the [[RawFeature]] that a Jackson tree of the feature gives: the
  * last `id`, `geometry` and `properties` member wins, a property key that
  * repeats keeps its first position and takes its last value, JSON ints
  * are Int or Long by magnitude, floats are Double, arrays are lists and
  * nested objects are their JSON text. Only the geometry and nested-object
  * values are read into (small) trees. One per reader; not thread-safe. */
private[geojson] final class GeoJsonFeatures {
  import GeoJsonFeatures._

  private val members = new Members[Any]

  /** The Feature object `p` stands on (START_OBJECT), read up to its
    * END_OBJECT; its geometry is decoded by [[Tokens.feature]]. */
  def read(p: JsonParser): Tokens = {
    var hasId = false
    var id = 0L
    var geometry: JsonNode = null
    var props: IndexedSeq[(String, Any)] = IndexedSeq.empty
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
        geometry = if (t == JsonToken.VALUE_NULL) null else mapper.readTree[JsonNode](p)
      else if (key == "properties") {
        if (t == JsonToken.START_OBJECT) props = members.read(p)(value)
        else {
          props = IndexedSeq.empty
          p.skipChildren()
        }
      } else p.skipChildren()
    }
    new Tokens(hasId, id, geometry, props)
  }
}

private[geojson] object GeoJsonFeatures {
  /** Every GeoJSON reader's parsers come from this mapper's factory. */
  val mapper = new ObjectMapper

  /** A Feature read off its tokens, with its geometry not yet decoded. */
  final class Tokens(hasId: Boolean, id: Long, geometry: JsonNode,
      props: IndexedSeq[(String, Any)]) {
    /** The feature, numbered `idx` unless it has an integral `id`. */
    def feature(idx: Long): RawFeature =
      RawFeature(if (hasId) id else idx,
        if (geometry == null) null else GeomCodec.geoJsonNodeToWkb(geometry),
        props)
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

/** One JSON object's members in the order a Jackson tree keeps them: a key
  * that repeats keeps its first position and takes its last value. Keys
  * are told apart by slots in a table shared by all the objects a reader
  * sees ([[NameSlots]]), so an object whose keys come in the previous
  * one's order costs no hashing. Not thread-safe. */
private[geojson] final class Members[V] {
  private val slots = NameSlots.growing()
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
