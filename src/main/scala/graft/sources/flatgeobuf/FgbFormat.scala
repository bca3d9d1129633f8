package graft.sources.flatgeobuf

import java.io.{BufferedInputStream, DataInputStream, EOFException, File, FileInputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}

import graft.geom.GeomCodec
import graft.sources._

/** FlatGeobuf DSv2 source: magic → size-prefixed Header → packed R-tree
  * index → streamed size-prefixed Features.
  *
  * A `bbox` read option turns the packed Hilbert R-tree into split
  * pruning: the driver searches the index (touching only its pages, not
  * the features) and groups the hits, in file order, into splits of up to
  * `splitRecords` features (default 65536). A split seeks from one
  * contiguous run of hits to the next, so executors read only matching
  * features and a small window is one task. Files without an index (or
  * windowed reads, which must see the whole stream) fall back to a
  * streaming envelope-intersects filter. FIDs always remain the feature's
  * position in the file, matching GDAL's spatial-filter semantics.
  *
  * Every size prefix is bounded by the bytes left in the file, and a
  * whole-file read must reach the header's feature count: a cut or
  * mis-framed file raises [[GraftError.MalformedInput]], it never reads
  * short. */
class FgbFormat extends ColumnarFormat {
  override def extensions: Seq[String] = Seq(".fgb")
  override def handlesBbox: Boolean = true // index splits or streamed envelope test

  /** The features whose index boxes meet `q`, as (absolute byte offset,
    * feature index) in file order: empty when the header's extent misses
    * `q`, None when the file has no index to search. */
  private def hits(path: String, q: FgbIndex.Box): Option[Seq[(Long, Long)]] = {
    val file = new FgbFile(path)
    val (header, featuresStart) = try (file.header, file.featuresStart) finally file.close()
    if (header.envelope.exists(e => !q.intersects(e))) Some(Nil) // file-level extent miss
    else if (header.indexNodeSize == 0 || header.featuresCount == 0) None
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
        Some(FgbIndex.search(readNodes, header.featuresCount, header.indexNodeSize, q)
          .map { case (off, idx) => (featuresStart + off, idx) })
      } finally raf.close()
    }
  }

  /** Bbox split planning: the index hits, `splitRecords` to a split, each
    * split carrying its contiguous runs. No index → defer to the streaming
    * filter of a whole-file scan. */
  override def planSplits(path: String, opts: GdalOptions): Seq[SplitSpec] =
    opts.bbox.map(hits(path, _)) match {
      case Some(Some(hs)) =>
        hs.grouped(math.max(1L, math.min(opts.splitRecords, Int.MaxValue)).toInt).map { group =>
          val runs = FgbIndex.runs(group)
          SplitSpec(path, runs.head._1, group.size.toLong, runs.head._3, runs = runs)
        }.toSeq
      case _ => Seq(SplitSpec(path, 0L, -1L))
    }

  /** A whole file streams its features, under the envelope test when a
    * bbox is set; an index-planned split holds exact envelope hits only,
    * so it needs no re-test. */
  override def cursor(spec: SplitSpec, opts: GdalOptions, sink: ValueSink): FeatureCursor = {
    val file = new FgbFile(spec.path)
    if (spec.runs.isEmpty) file.readWhole() else file.read(spec.runs)
    try new Features(file, if (spec.runs.isEmpty) opts.bbox else None, sink)
    catch { case e: Throwable => file.close(); throw e }
  }

  /** Types from the header columns plus a presence-only walk of each
    * feature's property buffer, until every column is settled (see
    * [[SchemaInference.HeaderTypes]]); geometry is never decoded. With a
    * bbox the packed R-tree picks the features, as it does for the scan,
    * and only they are read; a file without an index falls back to the
    * whole-file scan's envelope test. */
  override def openTypes(path: String, opts: GdalOptions): TypeIterator = {
    val runs = opts.bbox match {
      case None => None
      case Some(q) => hits(path, q) match {
        case None => return super.openTypes(path, opts)
        case hs => hs.map(FgbIndex.runs)
      }
    }
    val file = new FgbFile(path)
    runs.fold(file.readWhole())(file.read)
    val columns = file.header.columns
    val types = new SchemaInference.HeaderTypes(
      columns.map(c => (c.name, FgbCodec.sparkType(c.colType))).toIndexedSeq)
    val presence = new Presence(columns.length)
    val slots = presence.bind(columns.map(_.name).toIndexedSeq)
    var unread = opts.offset // the window drops these before inference reads them
    val it = Iterator.continually(file.next()).takeWhile(_ != null).map { bytes =>
      if (unread > 0) { unread -= 1; IndexedSeq.empty }
      else FgbCodec.rootTable(bytes).vector(1) match {
        case null => IndexedSeq.empty
        case (start, len) =>
          var walked = false
          types.next { c =>
            if (!walked) {
              presence.clear()
              FgbCodec.putProperties(columns, bytes, start, len, slots, presence)
              walked = true
            }
            presence.present(c)
          }
      }
    }
    TypeIterator(it, () => file.close())
  }

  /** The features [[FgbFile.next]] yields, numbered by their position in
    * the file. `bbox` applies GDAL spatial-filter semantics:
    * non-intersecting (and geometry-less) features are skipped. */
  private final class Features(file: FgbFile, bbox: Option[FgbIndex.Box],
      sink: ValueSink) extends FeatureCursor {
    private val header = file.header
    private val slots = sink.bind(header.columns.map(_.name).toIndexedSeq)

    override def sizeHint: Long = file.sizeHint

    override def next(): Boolean = {
      while (true) {
        val bytes = file.next()
        if (bytes == null) return false
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
          sink.fid(file.fid)
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

    override def close(): Unit = file.close()
  }
}

/** One FlatGeobuf file read forward: the magic and header parsed on
  * open, then the feature bodies of the whole file ([[readWhole]]) or of
  * record runs ([[read]]), each run reached by skipping forward. Every
  * size prefix is checked against the bytes left in the file before
  * anything is allocated for it; a fault raises
  * [[GraftError.MalformedInput]] at the byte where it was found. */
private final class FgbFile(path: String) extends AutoCloseable {
  private val size = new File(path).length
  private val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path), 1 << 16))
  private val prefix = new Array[Byte](4)
  private var pos = 0L

  private def malformed(at: Long, detail: String, cause: Throwable = null): Nothing =
    throw new GraftError.MalformedInput("flatgeobuf", path, at, detail, cause)

  val (header: FgbCodec.FgbHeader, featuresStart: Long) = try {
    if (size < 8) malformed(size, s"the file ends at byte $size, inside the 8-byte magic")
    val magic = new Array[Byte](8)
    in.readFully(magic)
    pos = 8
    require(magic.take(3).sameElements(FgbCodec.Magic.take(3)), s"$path is not a FlatGeobuf file")
    val headerBytes = frame()
    if (headerBytes == null) malformed(size, "the file ends before its header")
    val h = try FgbCodec.readHeader(headerBytes)
    catch { case e: RuntimeException => malformed(8L, "the header does not decode", e) }
    val start = pos + FgbCodec.indexSize(h.featuresCount, h.indexNodeSize)
    if (start > size) malformed(size, s"the file ends at byte $size, inside the index that ends at $start")
    (h, start)
  } catch { case e: Throwable => in.close(); throw e }

  private var runs: Iterator[(Long, Long, Long)] = Iterator.empty
  private var left = 0L // features left in the current run; -1 = to the end of the file
  private var whole = false
  /** The features the read holds at most, -1 if unknown. */
  var sizeHint = -1L
  /** The file position of the feature [[next]] returned last. */
  var fid = -1L

  /** Read every feature. */
  def readWhole(): Unit = {
    whole = true
    read(Seq((0L, -1L, featuresStart)))
    sizeHint = if (header.featuresCount > 0) header.featuresCount else -1L
  }

  /** Read the runs (first feature index, count, absolute byte offset), in
    * file order. */
  def read(rs: Seq[(Long, Long, Long)]): Unit = {
    runs = rs.iterator
    sizeHint = rs.map(_._2).sum
  }

  /** The next feature body, or null after the last. */
  def next(): Array[Byte] = {
    while (left == 0) {
      if (!runs.hasNext) return null
      val (first, count, at) = runs.next()
      if (at < pos || at > size) malformed(math.min(at, size), s"feature $first is indexed at byte $at")
      try in.skipNBytes(at - pos)
      catch { case e: java.io.IOException => malformed(pos, s"cannot reach byte $at", e) }
      pos = at
      fid = first - 1
      left = count
    }
    val bytes = frame()
    if (bytes == null) {
      if (left > 0) malformed(pos, s"the file ends $left features short of an index run")
      if (whole && fid + 1 < header.featuresCount)
        malformed(pos, s"the file ends after ${fid + 1} of the header's ${header.featuresCount} features")
      left = 0
      return null
    }
    fid += 1
    if (left > 0) left -= 1
    bytes
  }

  /** A size-prefixed flatbuffer (uint32 LE length + body), or null at the
    * end of the file; the prefix counts the body only, and internal
    * offsets are relative to the body start, so the bare body keeps them
    * valid. */
  private def frame(): Array[Byte] = {
    if (pos == size) return null
    val at = pos
    try {
      if (size - pos < 4) malformed(at, s"a size prefix is cut after ${size - pos} of 4 bytes")
      in.readFully(prefix)
      pos += 4
      val len = ByteBuffer.wrap(prefix).order(ByteOrder.LITTLE_ENDIAN).getInt
      if (len < 0 || len > size - pos)
        malformed(at, s"size prefix $len; ${size - pos} bytes are left in the file")
      val body = new Array[Byte](len)
      in.readFully(body)
      pos += len
      body
    } catch { case e: EOFException => malformed(at, "the file ends inside a feature", e) }
  }

  override def close(): Unit = in.close()
}

class FgbSourceProvider extends WritableFeatureSourceProvider {
  override def shortName(): String = "flatgeobuf"
  override def format: FeatureFormat = new FgbFormat
  override def sink: FeatureSink = FgbSink
}
