package graft.sources.geojson

import java.io.File
import com.fasterxml.jackson.core.{JsonParser, JsonToken}

import graft.sources._

/** Streaming GeoJSON FeatureCollection reader (reference read path for the
  * GeoJSON driver — S1/S3, reference src/lib.rs:294-312, 332-485). The
  * parser streams the top-level `features` array and decodes each feature
  * off its tokens ([[GeoJsonFeatures]]), so memory is O(feature), not
  * O(file).
  *
  * Property typing follows the §1.4 inference contract: JSON ints →
  * Int/Long by magnitude, floats → Double, nested objects → their JSON
  * text, arrays → typed lists (the reference left list columns
  * `unimplemented!` — src/unprocessed_series.rs:172 — we support them).
  */
class GeoJsonFormat extends ColumnarFormat {
  private def factory = GeoJsonFeatures.mapper.getFactory

  override def extensions: Seq[String] = Seq(".json", ".geojson")

  /** Advance `parser` into the top-level "features" array (or a bare
    * feature array / single Feature object). True if positioned inside
    * the array. */
  private def seekFeatures(parser: JsonParser): Boolean = {
    var inFeatures = false
    var t = parser.nextToken()
    if (t == JsonToken.START_ARRAY) inFeatures = true // bare array of features
    else {
      var depth = 0
      while (!inFeatures && t != null) {
        t = parser.nextToken()
        t match {
          case JsonToken.START_OBJECT | JsonToken.START_ARRAY => depth += 1
          case JsonToken.END_OBJECT | JsonToken.END_ARRAY => depth -= 1
          case JsonToken.FIELD_NAME if depth == 0 && parser.currentName == "features" =>
            if (parser.nextToken() == JsonToken.START_ARRAY) inFeatures = true
          case _ => ()
        }
      }
    }
    inFeatures
  }

  /** A parser positioned inside the features array of `spec` (a byte
    * range is wrapped in `[...]` so its comma-separated span is a valid
    * array), and whether it is inside one. */
  private def parserFor(spec: SplitSpec): (JsonParser, Boolean) =
    if (spec.byteStart < 0) {
      val parser = factory.createParser(new File(spec.path))
      try (parser, seekFeatures(parser))
      catch { case e: Throwable => parser.close(); throw e }
    } else {
      val fis = new java.io.FileInputStream(spec.path)
      var toSkip = spec.byteStart
      while (toSkip > 0) toSkip -= fis.skip(toSkip)
      val bounded = new BoundedInputStream(fis, spec.byteEnd - spec.byteStart)
      val stream = new java.io.SequenceInputStream(
        java.util.Collections.enumeration(java.util.Arrays.asList[java.io.InputStream](
          new java.io.ByteArrayInputStream("[".getBytes),
          bounded,
          new java.io.ByteArrayInputStream("]".getBytes))))
      val parser = factory.createParser(stream)
      try (parser, parser.nextToken() == JsonToken.START_ARRAY)
      catch { case e: Throwable => parser.close(); throw e }
    }

  /** Features in document order; `startRecord` seeds the default-FID
    * counter (split-stable). */
  override def cursor(spec: SplitSpec, opts: GdalOptions, sink: ValueSink): FeatureCursor = {
    val (parser, inFeatures) = parserFor(spec)
    val features = new GeoJsonFeatures(sink)
    var idx = spec.startRecord - 1
    var more = inFeatures
    new FeatureCursor {
      override def next(): Boolean = more && (parser.nextToken() match {
        case JsonToken.START_OBJECT =>
          val t = features.read(parser)
          idx += 1
          sink.fid(t.fid(idx))
          sink.geometry(t.wkb)
          true
        case _ => more = false; false // END_ARRAY or EOF
      })
      override def sizeHint: Long = spec.numRecords
      override def close(): Unit = parser.close()
    }
  }

  /** The features of [[cursor]], each one's tokens read one feature ahead
    * and its geometry decoded when it is returned (so a malformed geometry
    * fails at its own feature, a syntax error one feature earlier). */
  override def openSplit(spec: SplitSpec, opts: GdalOptions): FeatureIterator = {
    val (parser, inFeatures) = parserFor(spec)
    val builder = new FeatureBuilder
    val features = new GeoJsonFeatures(builder)
    var idx = spec.startRecord - 1
    val it = new Iterator[RawFeature] {
      private var pending: (GeoJsonFeatures.Tokens, IndexedSeq[(String, Any)]) = advance()

      private def advance(): (GeoJsonFeatures.Tokens, IndexedSeq[(String, Any)]) =
        if (!inFeatures) null
        else parser.nextToken() match {
          case JsonToken.START_OBJECT => (features.read(parser), builder.props())
          case _ => null // END_ARRAY or EOF
        }

      override def hasNext: Boolean = pending != null
      override def next(): RawFeature = {
        val (tokens, props) = pending
        pending = advance()
        idx += 1
        RawFeature(tokens.fid(idx), tokens.wkb, props)
      }
    }
    FeatureIterator(it, () => parser.close())
  }

  /** Types from a token walk (see [[GeoJsonTypes]]): no trees, no
    * geometry decode. `open` applies no bbox, so neither does this. */
  override def openTypes(path: String, opts: GdalOptions): TypeIterator = {
    val parser = factory.createParser(new File(path))
    val inFeatures = seekFeatures(parser)
    val types = new GeoJsonTypes
    val it = Iterator.continually(
      if (inFeatures && parser.nextToken() == JsonToken.START_OBJECT) types.feature(parser)
      else null).takeWhile(_ != null)
    TypeIterator(it, () => parser.close())
  }

  /** One big FeatureCollection file no longer serializes the whole scan:
    * the driver finds each feature's byte span ([[GeoJsonSpans]]) and
    * groups features into ~32 MB (or `splitRecords`-feature) ranges.
    * Executors then parse only their byte range. Files under 8 MB keep
    * the single-partition fast path; geojsonseq remains the zero-scan
    * splittable format. */
  override def planSplits(path: String, opts: GdalOptions): Seq[SplitSpec] =
    if (new File(path).length < (8L << 20)) Seq(SplitSpec(path, 0L, -1L))
    else GeoJsonSpans.splits(path, 32L << 20, opts.splitRecords)
}

/** Reads at most `limit` bytes of `in`, then reports EOF (split ranges). */
private[geojson] final class BoundedInputStream(in: java.io.InputStream, limit: Long)
    extends java.io.InputStream {
  private var remaining = limit
  override def read(): Int =
    if (remaining <= 0) -1
    else { val b = in.read(); if (b >= 0) remaining -= 1; b }
  override def read(buf: Array[Byte], off: Int, len: Int): Int = {
    if (remaining <= 0) return -1
    val n = in.read(buf, off, math.min(len.toLong, remaining).toInt)
    if (n > 0) remaining -= n
    n
  }
  override def close(): Unit = in.close()
}
