package graft.sources.spatialite

import java.io.RandomAccessFile

/** Minimal read-only SQLite 3 file reader — enough of the public file
  * format (https://www.sqlite.org/fileformat2.html) to stream table
  * B-trees: page cache-free page reads, varints, interior/leaf table
  * pages, the record serial-type codec, and overflow-page chains (vector
  * geometries routinely exceed one page's local payload).
  *
  * This exists because the container has no sqlite-jdbc and the reference
  * reads SpatiaLite databases through GDAL (reference src/test.rs:37-39,
  * README.md:9). Table rows stream in rowid order; nothing is held in
  * memory beyond one page and one assembled record.
  */
final class SqliteFile(path: String) extends AutoCloseable {
  private val raf = new RandomAccessFile(path, "r")

  private val header = new Array[Byte](100)
  raf.seek(0)
  raf.readFully(header)
  require(new String(header, 0, 16, "ISO-8859-1").startsWith("SQLite format 3"),
    s"$path is not a SQLite 3 database")

  val pageSize: Int = {
    val raw = ((header(16) & 0xFF) << 8) | (header(17) & 0xFF)
    if (raw == 1) 65536 else raw
  }
  private val reservedPerPage: Int = header(20) & 0xFF
  /** Usable bytes per page (total minus the reserved region). */
  val usable: Int = pageSize - reservedPerPage
  require((header(59) & 0xFF) == 1 || int32(header, 56) == 1,
    s"$path: only UTF-8 text encoding is supported")

  private def int32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)

  /** Read page `n` (1-based). */
  def page(n: Int): Array[Byte] = {
    val buf = new Array[Byte](pageSize)
    raf.seek((n.toLong - 1L) * pageSize)
    raf.readFully(buf)
    buf
  }

  override def close(): Unit = raf.close()

  // ------------------------------------------------------------- varints

  /** The value of the varint at `off`. */
  private def varintValue(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val x = b(off + i)
      v = (v << 7) | (x & 0x7F)
      if ((x & 0x80) == 0) return v
      i += 1
    }
    (v << 8) | (b(off + 8) & 0xFF)
  }

  /** The bytes the varint at `off` takes (1 to 9). */
  private def varintLen(b: Array[Byte], off: Int): Int = {
    var i = 0
    while (i < 8 && (b(off + i) & 0x80) != 0) i += 1
    i + 1
  }

  // ------------------------------------------------------- b-tree walk

  /** Child page numbers of an interior table page, left to right
    * (including the rightmost pointer). Empty for leaf pages. */
  def childPages(pageNo: Int): Seq[Int] = {
    val p = page(pageNo)
    val base = if (pageNo == 1) 100 else 0
    (p(base) & 0xFF) match {
      case 0x05 =>
        val nCells = ((p(base + 3) & 0xFF) << 8) | (p(base + 4) & 0xFF)
        val rightMost = int32(p, base + 8)
        val cells = (0 until nCells).map { i =>
          val cp = ((p(base + 12 + 2 * i) & 0xFF) << 8) | (p(base + 12 + 2 * i + 1) & 0xFF)
          int32(p, cp)
        }
        cells :+ rightMost
      case _ => Seq.empty
    }
  }

  /** Stream (rowid, payload) of every leaf cell under `root`, in key
    * order. Payloads spanning overflow chains are reassembled. */
  def scanCells(root: Int): Iterator[(Long, Array[Byte])] = scanLeaves(root)(readLeafCell)

  /** Stream the serial types of every leaf cell's record under `root`, in
    * key order: the record header alone, read from the cell's local
    * payload, so no text or blob is decoded and overflow pages are read
    * only when the header itself spills onto them. */
  def scanSerialTypes(root: Int): Iterator[Array[Long]] = scanLeaves(root)(readLeafSerialTypes)

  private def scanLeaves[A](root: Int)(readCell: (Array[Byte], Int) => A): Iterator[A] = new Iterator[A] {
    // DFS over page numbers; leaves yield their cells in order.
    private var stack = List(root)
    private var current: Iterator[A] = Iterator.empty

    private def advance(): Unit = {
      while (!current.hasNext && stack.nonEmpty) {
        val pageNo = stack.head
        stack = stack.tail
        val p = page(pageNo)
        val base = if (pageNo == 1) 100 else 0
        (p(base) & 0xFF) match {
          case 0x05 => stack = childPages(pageNo).toList ::: stack
          case 0x0D =>
            val nCells = ((p(base + 3) & 0xFF) << 8) | (p(base + 4) & 0xFF)
            current = (0 until nCells).iterator.map { i =>
              val cp = ((p(base + 8 + 2 * i) & 0xFF) << 8) | (p(base + 8 + 2 * i + 1) & 0xFF)
              readCell(p, cp)
            }
          case t => throw new IllegalStateException(
            s"$path page $pageNo: unexpected b-tree page type 0x${t.toHexString}")
        }
      }
    }

    override def hasNext: Boolean = { advance(); current.hasNext }
    override def next(): A = { advance(); current.next() }
  }

  /** Decode one table-leaf cell (payload length, rowid, payload with
    * overflow reassembly per the documented local-payload formula). */
  private def readLeafCell(p: Array[Byte], cellOff: Int): (Long, Array[Byte]) = {
    val payloadLen = varintValue(p, cellOff).toInt
    val n1 = varintLen(p, cellOff)
    val rowid = varintValue(p, cellOff + n1)
    val bodyOff = cellOff + n1 + varintLen(p, cellOff + n1)
    val u = usable
    val local = localPayload(payloadLen)
    if (local == payloadLen) {
      val out = new Array[Byte](payloadLen)
      System.arraycopy(p, bodyOff, out, 0, payloadLen)
      (rowid, out)
    } else {
      val out = new Array[Byte](payloadLen)
      System.arraycopy(p, bodyOff, out, 0, local)
      var got = local
      var next = int32(p, bodyOff + local)
      while (next != 0 && got < payloadLen) {
        val op = page(next)
        next = int32(op, 0)
        val take = math.min(u - 4, payloadLen - got)
        System.arraycopy(op, 4, out, got, take)
        got += take
      }
      require(got == payloadLen, s"$path: truncated overflow chain (got $got of $payloadLen)")
      (rowid, out)
    }
  }

  /** Bytes of a table-leaf payload stored on the leaf page itself (the
    * documented local-payload formula); the rest sits on overflow pages. */
  private def localPayload(payloadLen: Int): Int = {
    val u = usable
    val maxLocal = u - 35
    if (payloadLen <= maxLocal) payloadLen
    else {
      val minLocal = (u - 12) * 32 / 255 - 23
      val k = minLocal + (payloadLen - minLocal) % (u - 4)
      if (k <= maxLocal) k else minLocal
    }
  }

  private def readLeafSerialTypes(p: Array[Byte], cellOff: Int): Array[Long] = {
    val payloadLen = varintValue(p, cellOff).toInt
    val n1 = varintLen(p, cellOff)
    val bodyOff = cellOff + n1 + varintLen(p, cellOff + n1)
    if (varintValue(p, bodyOff) <= localPayload(payloadLen)) serialTypes(p, bodyOff)
    else serialTypes(readLeafCell(p, cellOff)._2, 0)
  }

  // ------------------------------------------------------- record codec

  /** The serial types of the record header at `off`. */
  private def serialTypes(b: Array[Byte], off: Int): Array[Long] = {
    val end = off + varintValue(b, off)
    val start = off + varintLen(b, off)
    var n = 0
    var at = start
    while (at < end) { at += varintLen(b, at); n += 1 }
    val types = new Array[Long](n)
    at = start
    var i = 0
    while (i < n) { types(i) = varintValue(b, at); at += varintLen(b, at); i += 1 }
    types
  }

  /** Decode a record payload into column values: null, Long, Double,
    * String, or Array[Byte]. */
  def decodeRecord(payload: Array[Byte]): IndexedSeq[Any] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(decodeValues(payload))

  /** [[decodeRecord]] into a fresh array: one pass over the header's
    * serial types and the body. */
  def decodeValues(payload: Array[Byte]): Array[Any] = {
    val types = serialTypes(payload, 0)
    val out = new Array[Any](types.length)
    var body = varintValue(payload, 0).toInt
    var i = 0
    while (i < types.length) {
      out(i) = decodeValue(payload, body, types(i))
      body += valueSize(types(i))
      i += 1
    }
    out
  }

  private def decodeValue(b: Array[Byte], off: Int, serial: Long): Any = serial match {
    case 0 => null
    case 1 => b(off).toLong
    case 2 => ((b(off) << 8) | (b(off + 1) & 0xFF)).toLong
    case 3 => ((b(off) << 16) | ((b(off + 1) & 0xFF) << 8) | (b(off + 2) & 0xFF)).toLong
    case 4 => int32(b, off).toLong
    case 5 => (int32(b, off).toLong << 16) | (((b(off + 4) & 0xFF) << 8) | (b(off + 5) & 0xFF)).toLong
    case 6 => (int32(b, off).toLong << 32) | (int32(b, off + 4).toLong & 0xFFFFFFFFL)
    case 7 =>
      java.lang.Double.longBitsToDouble(
        (int32(b, off).toLong << 32) | (int32(b, off + 4).toLong & 0xFFFFFFFFL))
    case 8 => 0L
    case 9 => 1L
    case t if t >= 12 && t % 2 == 0 =>
      val len = ((t - 12) / 2).toInt
      val out = new Array[Byte](len)
      System.arraycopy(b, off, out, 0, len)
      out
    case t if t >= 13 => new String(b, off, ((t - 13) / 2).toInt, "UTF-8")
    case t => throw new IllegalStateException(s"reserved serial type $t")
  }

  /** Body bytes of a value of serial type `serial`. */
  private def valueSize(serial: Long): Int = serial match {
    case 5 => 6
    case 6 | 7 => 8
    case t if t >= 1 && t <= 4 => t.toInt
    case t if t >= 12 => ((t - 12) / 2).toInt
    case _ => 0
  }

  // ------------------------------------------------------- master table

  /** One sqlite_master row. */
  case class MasterRow(typ: String, name: String, tblName: String, rootPage: Int, sql: String)

  /** All sqlite_master entries (root b-tree is page 1). */
  def master: Seq[MasterRow] =
    scanCells(1).map { case (_, payload) => decodeRecord(payload) }.collect {
      case IndexedSeq(t: String, name: String, tbl: String, root: Long, sql) =>
        MasterRow(t, name, tbl, root.toInt, sql match { case s: String => s; case _ => "" })
    }.toSeq

  /** Stream a table's rows as (rowid, values). */
  def scanTable(rootPage: Int): Iterator[(Long, IndexedSeq[Any])] =
    scanCells(rootPage).map { case (rowid, payload) => (rowid, decodeRecord(payload)) }
}

object SqliteFile {
  /** The Spark type of the value [[SqliteFile.decodeRecord]] gives for a serial type. */
  def valueType(serial: Long): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    serial match {
      case 0 => NullType
      case 7 => DoubleType
      case t if t >= 1 && t <= 9 => LongType
      case t if t >= 12 && t % 2 == 0 => BinaryType
      case t if t >= 13 => StringType
      case t => throw new IllegalStateException(s"reserved serial type $t")
    }
  }

  /** Column names of a CREATE TABLE statement, in declaration order, with
    * a flag for INTEGER PRIMARY KEY (whose values live in the rowid). A
    * pragmatic parser: top-level comma split inside the outer parens,
    * first identifier per definition, table constraints skipped. */
  def columnsOf(createSql: String): IndexedSeq[(String, Boolean)] = {
    val open = createSql.indexOf('(')
    val close = createSql.lastIndexOf(')')
    require(open >= 0 && close > open, s"cannot parse: $createSql")
    val inner = createSql.substring(open + 1, close)
    val defs = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    var quote: Char = 0
    while (i < inner.length) {
      val c = inner(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => defs += inner.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    defs += inner.substring(start)
    val constraintKw = Set("constraint", "primary", "unique", "check", "foreign")
    defs.map(_.trim).filter(_.nonEmpty)
      .filterNot(d => constraintKw.contains(d.takeWhile(!_.isWhitespace).toLowerCase))
      .map { d =>
        val name = d.head match {
          case '"' | '\'' | '`' => d.substring(1, d.indexOf(d.head, 1))
          case '[' => d.substring(1, d.indexOf(']'))
          case _ => d.takeWhile(c => !c.isWhitespace && c != '(')
        }
        val isIpk = d.toLowerCase.replaceAll("\\s+", " ")
          .contains("integer primary key")
        (name, isIpk)
      }.toIndexedSeq
  }
}
