package graft.sources.flatgeobuf

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable

/** Packed Hilbert R-tree per the public FlatGeobuf spec
  * (https://github.com/flatgeobuf/flatgeobuf — packedrtree layout): 40-byte
  * nodes (4 LE doubles bbox + uint64 LE offset) stored root-first, the
  * item level last. Internal-node `offset` is the node index of the first
  * child; item-node `offset` is the byte offset of the feature within the
  * features section. This is the native equivalent of the reference's
  * `set_spatial_filter` delegation to GDAL (reference src/lib.rs:316-319):
  * a bbox query touches only the index pages and the matching features,
  * not the whole file — the format's point at scale.
  */
object FgbIndex {

  val NodeBytes = 40

  final case class Box(minX: Double, minY: Double, maxX: Double, maxY: Double) {
    def intersects(o: Box): Boolean =
      !(o.minX > maxX || o.minY > maxY || o.maxX < minX || o.maxY < minY)
    def expand(o: Box): Box = Box(math.min(minX, o.minX), math.min(minY, o.minY),
      math.max(maxX, o.maxX), math.max(maxY, o.maxY))
  }

  object Box {
    def parse(s: String): Box = {
      val p = s.split(",").map(_.trim.toDouble)
      require(p.length == 4, s"bbox must be 'xmin,ymin,xmax,ymax', got '$s'")
      Box(p(0), p(1), p(2), p(3))
    }
  }

  /** Node counts per level, bottom-up (items first, root last). */
  private def levelSizes(numItems: Long, nodeSize: Int): Seq[Long] = {
    val s = math.max(2, nodeSize)
    var n = numItems
    val out = mutable.ArrayBuffer(n)
    while (n != 1) { n = (n + s - 1) / s; out += n }
    out.toSeq
  }

  /** (start, end) node-index bounds per level, bottom-up — items at
    * `bounds.head`, root `(0, 1)` at `bounds.last`. */
  def levelBounds(numItems: Long, nodeSize: Int): Seq[(Long, Long)] = {
    val sizes = levelSizes(numItems, nodeSize)
    var acc = sizes.sum
    sizes.map { sz => acc -= sz; (acc, acc + sz) }
  }

  // ------------------------------------------------------------- hilbert

  /** Hilbert curve distance of a cell on a 2^order × 2^order grid
    * (classic xy→d transform, public domain). */
  def hilbert(x0: Long, y0: Long, order: Int = 16): Long = {
    var (x, y) = (x0, y0)
    var d = 0L
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) { // rotate quadrant
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Order item indices by the Hilbert distance of their bbox center over
    * the extent — the spec's physical clustering that makes bbox queries
    * touch contiguous feature ranges. */
  def hilbertOrder(boxes: IndexedSeq[Box]): IndexedSeq[Int] = {
    val extent = boxes.reduce(_ expand _)
    val w = math.max(extent.maxX - extent.minX, java.lang.Double.MIN_NORMAL)
    val h = math.max(extent.maxY - extent.minY, java.lang.Double.MIN_NORMAL)
    val max = (1L << 16) - 1
    boxes.indices.sortBy { i =>
      val b = boxes(i)
      val cx = (((b.minX + b.maxX) / 2 - extent.minX) / w * max).toLong
      val cy = (((b.minY + b.maxY) / 2 - extent.minY) / h * max).toLong
      hilbert(cx, cy)
    }.toIndexedSeq
  }

  // --------------------------------------------------------------- build

  /** Serialize the packed R-tree for items ALREADY in file order, where
    * `items(i)` = (feature bbox, feature byte offset within the features
    * section). */
  def build(items: IndexedSeq[(Box, Long)], nodeSize: Int = 16): Array[Byte] = {
    require(items.nonEmpty, "cannot index zero features")
    val s = math.max(2, nodeSize)
    val bounds = levelBounds(items.length, s)
    val total = bounds.head._2.toInt
    val boxes = new Array[Box](total)
    val offs = new Array[Long](total)
    val itemStart = bounds.head._1.toInt
    items.indices.foreach { i =>
      boxes(itemStart + i) = items(i)._1
      offs(itemStart + i) = items(i)._2
    }
    for (lvl <- 0 until bounds.length - 1) {
      val (cs, ce) = bounds(lvl)
      var child = cs
      var parent = bounds(lvl + 1)._1
      while (child < ce) {
        val end = math.min(child + s, ce)
        var box = boxes(child.toInt)
        var j = child + 1
        while (j < end) { box = box.expand(boxes(j.toInt)); j += 1 }
        boxes(parent.toInt) = box
        offs(parent.toInt) = child
        parent += 1
        child = end
      }
    }
    val bb = ByteBuffer.allocate(total * NodeBytes).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < total) {
      val b = boxes(i)
      bb.putDouble(b.minX); bb.putDouble(b.minY)
      bb.putDouble(b.maxX); bb.putDouble(b.maxY)
      bb.putLong(offs(i))
      i += 1
    }
    bb.array()
  }

  // -------------------------------------------------------------- search

  /** Streaming bbox query. `readNodes(first, count)` returns `count`
    * consecutive 40-byte nodes starting at node index `first` (LE buffer
    * positioned at 0) — callers back it with a seek on the index region, so
    * only the touched pages are read. Returns (featureByteOffset,
    * featureIndex) pairs sorted by offset. */
  def search(readNodes: (Long, Int) => ByteBuffer, numItems: Long,
      nodeSize: Int, q: Box): Seq[(Long, Long)] = {
    if (numItems == 0) return Seq.empty
    val s = math.max(2, nodeSize)
    val bounds = levelBounds(numItems, s)
    val leafStart = bounds.head._1
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    val queue = mutable.Queue((0L, bounds.length - 1))
    while (queue.nonEmpty) {
      val (first, level) = queue.dequeue()
      val end = math.min(first + s, bounds(level)._2)
      val bb = readNodes(first, (end - first).toInt)
      var pos = first
      while (pos < end) {
        val base = ((pos - first) * NodeBytes).toInt
        val box = Box(bb.getDouble(base), bb.getDouble(base + 8),
          bb.getDouble(base + 16), bb.getDouble(base + 24))
        if (q.intersects(box)) {
          val off = bb.getLong(base + 32)
          if (pos >= leafStart) out += ((off, pos - leafStart))
          else queue += ((off, level - 1))
        }
        pos += 1
      }
    }
    out.sortBy(_._1).toSeq
  }

  /** Merge candidates into contiguous (firstIndex, count,
    * firstByteOffset) runs, in index order — one seek per run. Hilbert
    * clustering makes real queries produce few runs. */
  def runs(candidates: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    if (candidates.isEmpty) return Seq.empty
    val byIdx = candidates.sortBy(_._2)
    val out = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var (startOff, startIdx) = byIdx.head
    var count = 1L
    byIdx.tail.foreach { case (off, idx) =>
      if (idx == startIdx + count) count += 1
      else { out += ((startIdx, count, startOff)); startIdx = idx; startOff = off; count = 1 }
    }
    out += ((startIdx, count, startOff))
    out.toSeq
  }
}
