package graft.sources.flatgeobuf

import java.io.{BufferedInputStream, DataInputStream, EOFException, FileInputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}

import graft.geom.GeomCodec
import graft.sources._

/** FlatGeobuf DSv2 source: magic → size-prefixed Header → packed R-tree
  * index → streamed size-prefixed Features.
  *
  * A `bbox` read option turns the packed Hilbert R-tree into split
  * pruning: the driver searches the index (touching only its pages, not
  * the features) and plans one byte-range split per contiguous candidate
  * run, so executors seek straight to matching features — the scan never
  * reads non-matching regions. Files without an index (or windowed reads,
  * which must see the whole stream) fall back to a streaming
  * envelope-intersects filter. FIDs always remain the feature's position
  * in the file, matching GDAL's spatial-filter semantics. */
class FgbFormat extends ColumnarFormat {
  override def extensions: Seq[String] = Seq(".fgb")
  override def handlesBbox: Boolean = true // index splits or streamed envelope test

  /** (header, absolute byte offset of the features section). */
  private def headerInfo(path: String): (FgbCodec.FgbHeader, Long) = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path), 1 << 16))
    try {
      val magic = new Array[Byte](8)
      in.readFully(magic)
      require(magic.take(3).sameElements(FgbCodec.Magic.take(3)),
        s"$path is not a FlatGeobuf file")
      val headerBytes = readPrefixed(in)
      val header = FgbCodec.readHeader(headerBytes)
      val featuresStart = 8L + 4L + headerBytes.length +
        FgbCodec.indexSize(header.featuresCount, header.indexNodeSize)
      (header, featuresStart)
    } finally in.close()
  }

  /** Bbox split planning: search the packed R-tree on the driver, one
    * split per contiguous candidate run (Hilbert clustering keeps runs
    * few). No index → defer to the streaming filter of a whole-file scan. */
  override def planSplits(path: String, opts: GdalOptions): Seq[SplitSpec] =
    opts.bbox match {
      case Some(q) =>
        val (header, featuresStart) = headerInfo(path)
        if (header.envelope.exists(e => !q.intersects(e)))
          Seq.empty // file-level extent miss: nothing to scan
        else if (header.indexNodeSize == 0 || header.featuresCount == 0)
          Seq(SplitSpec(path, 0L, -1L))
        else {
          val indexStart = featuresStart -
            FgbCodec.indexSize(header.featuresCount, header.indexNodeSize)
          val raf = new RandomAccessFile(path, "r")
          try {
            val readNodes = (first: Long, count: Int) => {
              val buf = new Array[Byte](count * FgbIndex.NodeBytes)
              raf.seek(indexStart + first * FgbIndex.NodeBytes)
              raf.readFully(buf)
              ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
            }
            FgbIndex.runs(FgbIndex.search(readNodes, header.featuresCount,
                header.indexNodeSize, q))
              .map { case (firstIdx, count, off) =>
                SplitSpec(path, firstIdx, count, byteStart = featuresStart + off)
              }
          } finally raf.close()
        }
      case None => Seq(SplitSpec(path, 0L, -1L))
    }

  /** A whole file streams its features, under the envelope test when a
    * bbox is set; an index-planned byte-range run holds exact envelope
    * hits only, so it needs no re-test. */
  override def cursor(spec: SplitSpec, opts: GdalOptions, sink: ValueSink): FeatureCursor = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(spec.path), 1 << 16))
    try {
      val magic = new Array[Byte](8)
      in.readFully(magic)
      require(magic.take(3).sameElements(FgbCodec.Magic.take(3)),
        s"${spec.path} is not a FlatGeobuf file")
      val headerBytes = readPrefixed(in)
      val header = FgbCodec.readHeader(headerBytes)
      val featuresStart = 8L + 4L + headerBytes.length +
        FgbCodec.indexSize(header.featuresCount, header.indexNodeSize)
      val whole = spec.startRecord == 0L && spec.numRecords == -1L
      var toSkip = (if (whole) featuresStart else spec.byteStart) - (12L + headerBytes.length)
      while (toSkip > 0) toSkip -= in.skip(toSkip)
      if (whole) new Features(in, header, 0L, -1L, opts.bbox, sink)
      else new Features(in, header, spec.startRecord, spec.numRecords, None, sink)
    } catch { case e: Throwable => in.close(); throw e }
  }

  /** Types from the header columns plus a presence-only walk of each
    * feature's property buffer, until every column is settled (see
    * [[SchemaInference.HeaderTypes]]); geometry is never decoded. With a
    * bbox the packed R-tree picks the features, as it does for the scan;
    * a file without an index falls back to the whole-file scan's envelope
    * test. */
  override def openTypes(path: String, opts: GdalOptions): TypeIterator = {
    val (header, featuresStart) = headerInfo(path)
    val runs: Seq[(Long, Long)] = opts.bbox match {
      case None => Seq((featuresStart, -1L))
      case Some(_) => planSplits(path, opts) match {
        case Seq(SplitSpec(_, 0L, -1L, _, _)) => return super.openTypes(path, opts)
        case splits => splits.map(sp => (sp.byteStart, sp.numRecords))
      }
    }
    val types = new SchemaInference.HeaderTypes(
      header.columns.map(c => (c.name, FgbCodec.sparkType(c.colType))).toIndexedSeq)
    val presence = new Presence(header.columns.length)
    val slots = presence.bind(header.columns.map(_.name).toIndexedSeq)
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path), 1 << 16))
    var pos = 0L
    var unread = opts.offset // the window drops these before inference reads them
    def next(): SchemaInference.FeatureTypes = {
      val bytes = try readPrefixed(in) catch { case _: EOFException => null }
      if (bytes == null) null
      else {
        pos += 4L + bytes.length
        if (unread > 0) { unread -= 1; IndexedSeq.empty }
        else FgbCodec.rootTable(bytes).vector(1) match {
          case null => IndexedSeq.empty
          case (start, len) =>
            var walked = false
            types.next { c =>
              if (!walked) {
                presence.clear()
                FgbCodec.putProperties(header.columns, bytes, start, len, slots, presence)
                walked = true
              }
              presence.present(c)
            }
        }
      }
    }
    val it = runs.iterator.flatMap { case (start, count) =>
      var toSkip = start - pos
      while (toSkip > 0) toSkip -= in.skip(toSkip)
      pos = start
      val run = Iterator.continually(next()).takeWhile(_ != null)
      if (count < 0) run else run.take(count.toInt)
    }
    TypeIterator(it, () => in.close())
  }

  /** The size-prefixed features from the stream's position on: at most
    * `maxCount` (-1 = all), numbered from `firstFid`. `bbox` applies GDAL
    * spatial-filter semantics: non-intersecting (and geometry-less)
    * features are skipped but still advance the FID. */
  private final class Features(in: DataInputStream, header: FgbCodec.FgbHeader,
      firstFid: Long, maxCount: Long, bbox: Option[FgbIndex.Box], sink: ValueSink) extends FeatureCursor {
    private val slots = sink.bind(header.columns.map(_.name).toIndexedSeq)
    private var fid = firstFid - 1
    private var remaining = maxCount

    override def sizeHint: Long =
      if (maxCount >= 0) maxCount else if (header.featuresCount > 0) header.featuresCount else -1L

    override def next(): Boolean = {
      while (remaining != 0) {
        val bytes = try readPrefixed(in) catch { case _: EOFException => null }
        if (bytes == null) return false
        fid += 1
        if (remaining > 0) remaining -= 1
        val t = FgbCodec.rootTable(bytes)
        val geomPos = t.indirect(0)
        var keep = bbox.isEmpty
        var wkb: Array[Byte] = null
        if (geomPos >= 0) {
          val g = new FgbCodec.FbTab(t.bb, geomPos)
          bbox match {
            case None => wkb = FgbCodec.readWkb(g, header.geometryType)
            case Some(q) =>
              val geom = FgbCodec.readGeometry(g, header.geometryType)
              keep = !geom.isEmpty && {
                val e = geom.getEnvelopeInternal
                q.intersects(FgbIndex.Box(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
              }
              if (keep) wkb = GeomCodec.toWkb(geom)
          }
        }
        if (keep) {
          sink.fid(fid)
          sink.geometry(wkb)
          t.vector(1) match {
            case null => ()
            case (start, len) => FgbCodec.putProperties(header.columns, bytes, start, len, slots, sink)
          }
          return true
        }
      }
      false
    }

    override def close(): Unit = in.close()
  }

  /** Read a size-prefixed flatbuffer (uint32 LE length + body); EOF at a
    * record boundary is clean, EOF mid-prefix or mid-body is corruption. */
  private def readPrefixed(in: DataInputStream): Array[Byte] = {
    val prefix = new Array[Byte](4)
    val first = in.read()
    if (first < 0) throw new EOFException()
    prefix(0) = first.toByte
    in.readFully(prefix, 1, 3) // EOFException here = truncated mid-prefix
    val len = ByteBuffer.wrap(prefix).order(ByteOrder.LITTLE_ENDIAN).getInt
    if (len < 0) throw new java.io.IOException(s"corrupt FlatGeobuf size prefix: $len")
    // the prefix counts the body only; internal offsets are relative to
    // the body start, so returning the bare body keeps them valid
    val body = new Array[Byte](len)
    in.readFully(body)
    body
  }
}

class FgbSourceProvider extends WritableFeatureSourceProvider {
  override def shortName(): String = "flatgeobuf"
  override def format: FeatureFormat = new FgbFormat
  override def sink: FeatureSink = FgbSink
}
