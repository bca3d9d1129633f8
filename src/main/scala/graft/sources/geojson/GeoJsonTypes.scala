package graft.sources.geojson

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import org.apache.spark.sql.types._

import graft.sources.SchemaInference.FeatureTypes

/** The schema-inference pass over GeoJSON features on Jackson's streaming
  * tokens: a property's type comes from its token alone (`getNumberType`
  * tells Int from Long), geometry and nested objects are passed over with
  * `skipChildren`, and no tree is built. Each type is the one
  * [[graft.sources.SchemaInference.typeOf]] gives the value
  * [[GeoJsonFeatures]] decodes, duplicate keys included. One per reader;
  * not thread-safe. */
private[geojson] final class GeoJsonTypes {
  import GeoJsonTypes.valueType

  private val members = new Members[DataType]

  /** Types of the Feature object `p` stands on (START_OBJECT); leaves `p`
    * on its END_OBJECT. */
  def feature(p: JsonParser): FeatureTypes = {
    var props: FeatureTypes = IndexedSeq.empty
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val key = p.currentName
      if (p.nextToken() == JsonToken.START_OBJECT && key == "properties")
        props = members.read(p)(valueType)
      else {
        if (key == "properties") props = IndexedSeq.empty
        p.skipChildren()
      }
    }
    props
  }
}

private[geojson] object GeoJsonTypes {
  /** Type of the value whose first token `p` stands on; leaves `p` on
    * the value's last token. */
  def valueType(p: JsonParser): DataType = p.currentToken match {
    case JsonToken.VALUE_NULL => NullType
    case JsonToken.VALUE_NUMBER_INT =>
      if (p.getNumberType == JsonParser.NumberType.INT) IntegerType else LongType
    case JsonToken.VALUE_NUMBER_FLOAT => DoubleType
    case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE => BooleanType
    case JsonToken.START_ARRAY =>
      // a list is typed by its first non-null element
      var elem: DataType = NullType
      var t = p.nextToken()
      while (t != JsonToken.END_ARRAY && t != null) {
        if (elem == NullType) elem = valueType(p) else p.skipChildren()
        t = p.nextToken()
      }
      ArrayType(if (elem == NullType) StringType else elem)
    case _ => // strings; nested objects become their JSON text
      p.skipChildren()
      StringType
  }
}
