package graft.sources.shapefile

import java.io.{BufferedInputStream, DataInputStream, EOFException, FileInputStream}
import java.nio.{ByteBuffer, ByteOrder}

import org.locationtech.jts.algorithm.Orientation
import org.locationtech.jts.geom._

/** Minimal ESRI Shapefile (.shp) geometry-record parser, written against the
  * public ESRI whitepaper ("ESRI Shapefile Technical Description", 1998).
  * Covers the 2D types plus Z/M variants (Z/M ordinates ignored): Null(0),
  * Point(1/11/21), PolyLine(3/13/23), Polygon(5/15/25), MultiPoint(8/18/28).
  */
object Shp {
  private val factory = new GeometryFactory(new PrecisionModel, 4326)

  /** Stream (recordNumber, record content) pairs from a .shp file,
    * optionally starting at a byte offset (from the .shx index) and capped
    * at maxRecords — the record-range split path. Content buffers are
    * little-endian-ordered at position 0, ready for [[parseShape]] or the
    * positionless [[boxIntersects]] peek.
    *
    * A file shorter than its header's file length, a record cut anywhere
    * after its first byte, and a content length below 0 or past the end of
    * the file throw [[graft.sources.GraftError.MalformedInput]]: a
    * truncated file fails, it never reads short.
    *
    * `keep` caps the content bytes read of each record, the rest is
    * skipped: [[BoxBytes]] is enough for [[boxIntersects]], 0 walks the
    * record headers alone. */
  def rawRecords(path: String, startByte: Long = 100L, maxRecords: Long = -1L,
      keep: Int = Int.MaxValue): Iterator[(Int, ByteBuffer)] with AutoCloseable = {
    val fileSize = new java.io.File(path).length
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path)))
    def malformed(at: Long, detail: String, cause: Throwable = null): Nothing = {
      in.close()
      throw new graft.sources.GraftError.MalformedInput("shapefile", path, at, detail, cause)
    }
    val head = new Array[Byte](8) // a record header, after the file header's first 28 bytes
    try {
      in.skipNBytes(24)
      in.readFully(head, 0, 4)
      val declared = ByteBuffer.wrap(head).getInt(0).toLong * 2 // big-endian, in 16-bit words
      if (fileSize < declared)
        malformed(fileSize, s"the file ends at byte $fileSize; its header gives $declared bytes")
      in.skipNBytes(startByte - 28) // header is 100 bytes; splits pass .shx offsets
    } catch {
      case e: EOFException => malformed(fileSize, s"the file ends before byte ${math.max(startByte, 28L)}", e)
    }
    val headBuf = ByteBuffer.wrap(head) // big-endian
    var pos = startByte
    var remaining = maxRecords
    new Iterator[(Int, ByteBuffer)] with AutoCloseable {
      private var nextRec: (Int, ByteBuffer) = advance()

      private def advance(): (Int, ByteBuffer) =
        if (remaining == 0) { in.close(); null }
        else {
          val got = in.readNBytes(head, 0, 8)
          if (got == 0) { in.close(); return null }
          if (got < 8) malformed(pos, s"a record header ends after $got of 8 bytes")
          val recNum = headBuf.getInt(0)
          val length = headBuf.getInt(4).toLong * 2 // content length in 16-bit words
          if (length < 0 || pos + 8 + length > fileSize)
            malformed(pos, s"record $recNum has content length $length; the file ends at byte $fileSize")
          val content = new Array[Byte](math.min(length, keep.toLong).toInt)
          try { in.readFully(content); in.skipNBytes(length - content.length) }
          catch { case e: EOFException => malformed(pos, s"record $recNum ends early", e) }
          pos += 8 + length
          if (remaining > 0) remaining -= 1
          (recNum, ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN))
        }

      override def hasNext: Boolean = nextRec != null
      override def next(): (Int, ByteBuffer) = {
        val r = nextRec; nextRec = advance(); r
      }
      override def close(): Unit = in.close()
    }
  }

  /** The record's geometry as WKB, null for a Null shape; a point's
    * bytes are written directly (as [[graft.geom.GeomCodec.point]]). */
  def wkb(b: ByteBuffer): Array[Byte] = b.getInt(0) match {
    case 0 => null
    case 1 | 11 | 21 => graft.geom.GeomCodec.point(b.getDouble(4), b.getDouble(12))
    case _ =>
      val g = parseShape(b)
      if (g == null) null else graft.geom.GeomCodec.toWkb(g)
  }

  /** The content bytes [[boxIntersects]] reads: shape type and box. */
  val BoxBytes = 36

  /** Cheap bbox test against the record's stored extent — absolute reads
    * only, so the buffer stays ready for [[parseShape]]. Points test x/y
    * directly; poly/multi types carry a bbox at content bytes 4..36; Null
    * shapes never match (GDAL spatial-filter semantics). Skipping here
    * avoids the whole geometry parse. */
  def boxIntersects(b: ByteBuffer, q: graft.sources.flatgeobuf.FgbIndex.Box): Boolean =
    b.getInt(0) match {
      case 0 => false
      case 1 | 11 | 21 =>
        val x = b.getDouble(4); val y = b.getDouble(12)
        x >= q.minX && x <= q.maxX && y >= q.minY && y <= q.maxY
      case _ =>
        q.intersects(graft.sources.flatgeobuf.FgbIndex.Box(
          b.getDouble(4), b.getDouble(12), b.getDouble(20), b.getDouble(28)))
    }

  /** The file-level extent from the .shp header (bytes 36..68, LE). */
  def fileBox(path: String): graft.sources.flatgeobuf.FgbIndex.Box = {
    val in = new DataInputStream(new FileInputStream(path))
    try {
      val head = new Array[Byte](68)
      in.readFully(head)
      val bb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
      graft.sources.flatgeobuf.FgbIndex.Box(
        bb.getDouble(36), bb.getDouble(44), bb.getDouble(52), bb.getDouble(60))
    } finally in.close()
  }

  /** Byte offset of each record in the .shp, read from the .shx index
    * (header 100 bytes, then one (offset-in-words, length-in-words)
    * big-endian pair per record). An index under 100 bytes, or of another
    * size than its header's file length, throws
    * [[graft.sources.GraftError.MalformedInput]]: a cut index fails, it
    * never plans a short read. */
  def shxOffsets(shxPath: String): Array[Long] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(shxPath))
    val bb = ByteBuffer.wrap(bytes)
    val declared = if (bytes.length < 100) -1L else bb.getInt(24).toLong * 2 // in 16-bit words
    if (declared != bytes.length)
      throw new graft.sources.GraftError.MalformedInput("shapefile", shxPath, bytes.length,
        if (declared < 0) s"the index ends at byte ${bytes.length}, inside its 100-byte header"
        else s"the index ends at byte ${bytes.length}; its header gives $declared bytes")
    val n = (bytes.length - 100) / 8
    Array.tabulate(n) { i => bb.getInt(100 + i * 8).toLong * 2 }
  }

  def parseShape(b: ByteBuffer): Geometry = b.getInt match {
    case 0 => null // Null Shape
    case 1 | 11 | 21 => factory.createPoint(new Coordinate(b.getDouble, b.getDouble))
    case 8 | 18 | 28 => // MultiPoint: box + numPoints + points
      b.position(b.position + 32)
      val n = b.getInt
      factory.createMultiPoint(
        Array.tabulate(n)(_ => factory.createPoint(new Coordinate(b.getDouble, b.getDouble))))
    case 3 | 13 | 23 => // PolyLine: box + parts + points
      val parts = readParts(b)
      if (parts.length == 1) factory.createLineString(parts(0))
      else factory.createMultiLineString(parts.map(factory.createLineString))
    case 5 | 15 | 25 => // Polygon: rings; shells are clockwise per spec
      val rings = readParts(b).map(closeRing).map(factory.createLinearRing)
      val shells = rings.filterNot(r => Orientation.isCCW(r.getCoordinateSequence))
      val holes = rings.filter(r => Orientation.isCCW(r.getCoordinateSequence))
      if (shells.isEmpty) factory.createPolygon(rings.head) // degenerate: treat first as shell
      else if (shells.length == 1) factory.createPolygon(shells(0), holes)
      else {
        // assign each hole to the first shell whose envelope contains it
        val polys = shells.map { s =>
          val sp = factory.createPolygon(s)
          val mine = holes.filter(h =>
            sp.getEnvelopeInternal.contains(h.getEnvelopeInternal))
          factory.createPolygon(s, mine)
        }
        factory.createMultiPolygon(polys)
      }
    case other => throw new IllegalArgumentException(s"Unsupported shape type $other")
  }

  /** Read the (box, numParts, numPoints, parts[], points[]) layout shared by
    * PolyLine and Polygon, returning one coordinate array per part. */
  private def readParts(b: ByteBuffer): Array[Array[Coordinate]] = {
    b.position(b.position + 32) // bounding box
    val numParts = b.getInt
    val numPoints = b.getInt
    val partIdx = Array.tabulate(numParts)(_ => b.getInt)
    val coords = Array.tabulate(numPoints)(_ => new Coordinate(b.getDouble, b.getDouble))
    Array.tabulate(numParts) { i =>
      val from = partIdx(i)
      val until = if (i + 1 < numParts) partIdx(i + 1) else numPoints
      coords.slice(from, until)
    }
  }

  private def closeRing(cs: Array[Coordinate]): Array[Coordinate] =
    if (cs.length >= 3 && cs.head.equals2D(cs.last)) cs else cs :+ cs.head.copy()
}
