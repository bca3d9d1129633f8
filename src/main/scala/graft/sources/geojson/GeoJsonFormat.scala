package graft.sources.geojson

import java.io.File
import com.fasterxml.jackson.core.JsonToken

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
class GeoJsonFormat extends FeatureFormat {
  private def factory = GeoJsonFeatures.mapper.getFactory

  override def extensions: Seq[String] = Seq(".json", ".geojson")

  /** Advance `parser` into the top-level "features" array (or a bare
    * feature array / single Feature object). True if positioned inside
    * the array. */
  private def seekFeatures(parser: com.fasterxml.jackson.core.JsonParser): Boolean = {
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

  /** Stream RawFeatures off a parser positioned inside a features array.
    * `firstIdx` seeds the default-FID counter (split-stable). Each feature's
    * tokens are read one feature ahead; its geometry is decoded when it is
    * returned. */
  private def featureIterator(parser: com.fasterxml.jackson.core.JsonParser,
      inFeatures: Boolean, firstIdx: Long): FeatureIterator = {
    val features = new GeoJsonFeatures
    var idx = firstIdx - 1
    val it = new Iterator[RawFeature] {
      private var pending: GeoJsonFeatures.Tokens = advance()

      private def advance(): GeoJsonFeatures.Tokens =
        if (!inFeatures) null
        else parser.nextToken() match {
          case JsonToken.START_OBJECT => features.read(parser)
          case _ => null // END_ARRAY or EOF
        }

      override def hasNext: Boolean = pending != null
      override def next(): RawFeature = {
        val tokens = pending
        pending = advance()
        idx += 1
        tokens.feature(idx)
      }
    }
    FeatureIterator(it, () => parser.close())
  }

  override def open(path: String, opts: GdalOptions): FeatureIterator = {
    val parser = factory.createParser(new File(path))
    featureIterator(parser, seekFeatures(parser), 0L)
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
    * the driver token-scans the file once (skipChildren — no trees),
    * records each feature's byte span, and groups features into
    * ~`splitBytes` ranges. Executors then parse only their byte range
    * (wrapped in `[...]` so the comma-separated span is a valid array).
    * Files under 8 MB keep the single-partition fast path; geojsonseq
    * remains the zero-scan splittable format. */
  override def planSplits(path: String, opts: GdalOptions): Seq[SplitSpec] = {
    val f = new File(path)
    val minSplittable = 8L << 20
    val targetBytes = 32L << 20
    if (f.length < minSplittable) return Seq(SplitSpec(path, 0L, -1L))
    val parser = factory.createParser(f)
    try {
      if (!seekFeatures(parser)) return Seq(SplitSpec(path, 0L, -1L))
      val splits = scala.collection.mutable.ArrayBuffer.empty[SplitSpec]
      var chunkStart = -1L
      var chunkFirstIdx = 0L
      var chunkCount = 0L
      var idx = 0L
      var lastEnd = -1L
      var t = parser.nextToken()
      while (t == JsonToken.START_OBJECT) {
        val start = parser.currentTokenLocation().getByteOffset
        parser.skipChildren()
        lastEnd = parser.currentLocation().getByteOffset
        if (chunkStart < 0) { chunkStart = start; chunkFirstIdx = idx; chunkCount = 0L }
        chunkCount += 1
        if (lastEnd - chunkStart >= targetBytes || chunkCount >= opts.splitRecords) {
          splits += SplitSpec(path, chunkFirstIdx, chunkCount, chunkStart, lastEnd)
          chunkStart = -1L
        }
        idx += 1
        t = parser.nextToken()
      }
      if (chunkStart >= 0)
        splits += SplitSpec(path, chunkFirstIdx, chunkCount, chunkStart, lastEnd)
      if (splits.isEmpty) Seq(SplitSpec(path, 0L, -1L)) else splits.toSeq
    } finally parser.close()
  }

  override def openSplit(spec: SplitSpec, opts: GdalOptions): FeatureIterator = {
    if (spec.byteStart < 0) open(spec.path, opts)
    else {
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
      val in = parser.nextToken() == JsonToken.START_ARRAY
      featureIterator(parser, in, spec.startRecord)
    }
  }

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
