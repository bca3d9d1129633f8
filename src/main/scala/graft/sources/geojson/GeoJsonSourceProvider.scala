package graft.sources.geojson

import graft.sources._

/** `spark.read.format("geojson")` / `df.write.format("geojson")` (S1 + W3,
  * reference src/lib.rs:294-312, 629-642). */
class GeoJsonSourceProvider extends WritableFeatureSourceProvider {
  override def shortName(): String = "geojson"
  override def format: FeatureFormat = new GeoJsonFormat
  override def sink: FeatureSink = GeoJsonSink
}
