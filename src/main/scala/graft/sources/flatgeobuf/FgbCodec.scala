package graft.sources.flatgeobuf

import java.nio.{ByteBuffer, ByteOrder}

import com.google.flatbuffers.FlatBufferBuilder
import org.locationtech.jts.geom._

/** FlatGeobuf codec (doc-claimed format #4, reference README.md:8) —
  * implemented from the public format spec
  * (https://github.com/flatgeobuf/flatgeobuf — magic, size-prefixed
  * Header/Feature flatbuffers, optional packed Hilbert R-tree index).
  * The flatbuffers runtime comes from Arrow's classpath
  * (flatbuffers-java); table READING is hand-rolled offset walking since
  * no generated FGB classes exist here.
  *
  * Conventions (per spec, also used by our writer so round-trips are
  * exact): `ends` holds cumulative ring/part end indices in
  * coordinate-pair units (Polygon rings, MultiLineString parts);
  * `parts` nests Geometry tables only for MultiPolygon and
  * GeometryCollection; properties are the packed (ushort column-index,
  * value) rows with little-endian scalars and length-prefixed strings.
  * Reading MultiLineString also accepts the nested-`parts` form (written
  * by this codec before it was spec-aligned) and errors loudly when
  * neither representation is present rather than yielding EMPTY.
  */
object FgbCodec {

  val Magic: Array[Byte] = Array(0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x00).map(_.toByte)

  // GeometryType enum (spec)
  val GtUnknown = 0; val GtPoint = 1; val GtLineString = 2; val GtPolygon = 3
  val GtMultiPoint = 4; val GtMultiLineString = 5; val GtMultiPolygon = 6
  val GtCollection = 7

  // ColumnType enum (spec)
  val CtBool = 2; val CtInt = 5; val CtLong = 7; val CtDouble = 10; val CtString = 11

  case class FgbColumn(name: String, colType: Int)
  case class FgbHeader(name: String, geometryType: Int, columns: Seq[FgbColumn],
      featuresCount: Long, indexNodeSize: Int,
      envelope: Option[FgbIndex.Box] = None)

  // ---------------------------------------------------------- fb reading

  /** Minimal flatbuffers table reader: little-endian buffer + table pos. */
  final class FbTab(val bb: ByteBuffer, val pos: Int) {
    private val vtable = pos - bb.getInt(pos)
    private val vsize = bb.getShort(vtable) & 0xFFFF

    /** voffset of field `id`, 0 if absent. */
    private def fo(id: Int): Int = {
      val o = 4 + id * 2
      if (o >= vsize) 0 else bb.getShort(vtable + o) & 0xFFFF
    }
    def byteField(id: Int, default: Int): Int = {
      val o = fo(id); if (o == 0) default else bb.get(pos + o) & 0xFF
    }
    def shortField(id: Int, default: Int): Int = {
      val o = fo(id); if (o == 0) default else bb.getShort(pos + o) & 0xFFFF
    }
    def longField(id: Int, default: Long): Long = {
      val o = fo(id); if (o == 0) default else bb.getLong(pos + o)
    }
    /** Absolute position of a referenced object, -1 if absent. */
    def indirect(id: Int): Int = {
      val o = fo(id); if (o == 0) -1 else { val s = pos + o; s + bb.getInt(s) }
    }
    def stringField(id: Int): String = {
      val p = indirect(id)
      if (p < 0) null
      else {
        val len = bb.getInt(p)
        val out = new Array[Byte](len)
        val dup = bb.duplicate(); dup.position(p + 4); dup.get(out)
        new String(out, "UTF-8")
      }
    }
    /** (elements start, length) of a vector field, or null. */
    def vector(id: Int): (Int, Int) = {
      val p = indirect(id)
      if (p < 0) null else (p + 4, bb.getInt(p))
    }
  }

  def rootTable(bytes: Array[Byte]): FbTab = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    new FbTab(bb, bb.getInt(0))
  }

  // Header field ids (spec .fbs order)
  private val HName = 0; private val HEnvelope = 1; private val HGeomType = 2
  private val HColumns = 7
  private val HFeaturesCount = 8; private val HIndexNodeSize = 9
  // Column field ids
  private val CName = 0; private val CType = 1
  // Feature field ids
  private val FGeometry = 0; private val FProperties = 1
  // Geometry field ids
  private val GEnds = 0; private val GXy = 1; private val GType = 6; private val GParts = 7

  def readHeader(bytes: Array[Byte]): FgbHeader = {
    val t = rootTable(bytes)
    val cols = t.vector(HColumns) match {
      case null => Seq.empty
      case (start, n) =>
        (0 until n).map { i =>
          val slot = start + 4 * i
          val ct = new FbTab(t.bb, slot + t.bb.getInt(slot))
          FgbColumn(ct.stringField(CName), ct.byteField(CType, 0))
        }
    }
    val env = t.vector(HEnvelope) match {
      case (start, 4) => Some(FgbIndex.Box(t.bb.getDouble(start),
        t.bb.getDouble(start + 8), t.bb.getDouble(start + 16), t.bb.getDouble(start + 24)))
      case _ => None
    }
    FgbHeader(Option(t.stringField(HName)).getOrElse(""),
      t.byteField(HGeomType, 0), cols,
      t.longField(HFeaturesCount, 0L), t.shortField(HIndexNodeSize, 16), env)
  }

  /** Byte size of the packed Hilbert R-tree index (spec formula: every
    * level's nodes, 40 bytes each, including the item level). */
  def indexSize(numItems: Long, nodeSize: Int): Long = {
    if (numItems == 0 || nodeSize == 0) return 0L
    val s = math.max(2, nodeSize)
    var count = numItems
    var level = numItems
    while (level != 1) {
      level = (level + s - 1) / s
      count += level
    }
    count * 40L
  }

  // ------------------------------------------------------- geometry read

  private val factory = new GeometryFactory()

  /** [[readGeometry]] as WKB; a point's bytes are written directly (as
    * [[graft.geom.GeomCodec.point]]). */
  def readWkb(t: FbTab, headerType: Int): Array[Byte] = {
    val gt = t.byteField(GType, 0) match { case 0 => headerType; case x => x }
    t.vector(GXy) match {
      case (start, n) if gt == GtPoint && n >= 2 =>
        graft.geom.GeomCodec.point(t.bb.getDouble(start), t.bb.getDouble(start + 8))
      case _ => graft.geom.GeomCodec.toWkb(readGeometry(t, headerType))
    }
  }

  def readGeometry(t: FbTab, headerType: Int): Geometry = {
    val gt = t.byteField(GType, 0) match {
      case 0 => headerType
      case x => x
    }
    gt match {
      case GtPoint =>
        val (xs, _) = xyOf(t)
        factory.createPoint(new Coordinate(xs(0), xs(1)))
      case GtLineString =>
        factory.createLineString(coordsOf(t))
      case GtPolygon =>
        polygonOf(t)
      case GtMultiPoint =>
        factory.createMultiPoint(coordsOf(t).map(factory.createPoint))
      case GtMultiLineString =>
        // Spec form: flat xy + ends (one LineString per ends segment;
        // absent ends = single part). Legacy files from this codec's
        // pre-spec-aligned writer used nested parts — accept those too.
        if (t.vector(GXy) != null) {
          val cs = coordsOf(t)
          val ends = endsOf(t, cs.length)
          val lines = ends.foldLeft((Seq.empty[LineString], 0)) { case ((acc, s), e) =>
            (acc :+ factory.createLineString(cs.slice(s, e)), e)
          }._1
          factory.createMultiLineString(lines.toArray)
        } else partsOf(t) match {
          case Some(parts) =>
            factory.createMultiLineString(parts.map(_.asInstanceOf[LineString]))
          case None => throw new IllegalStateException(
            "FGB MultiLineString has neither xy+ends nor parts")
        }
      case GtMultiPolygon | GtCollection =>
        val parts = partsOf(t).getOrElse(throw new IllegalStateException(
          s"FGB geometry type $gt requires a parts vector"))
        gt match {
          case GtMultiPolygon =>
            factory.createMultiPolygon(parts.map(_.asInstanceOf[Polygon]))
          case _ => factory.createGeometryCollection(parts)
        }
      case other => throw new IllegalStateException(s"unsupported FGB geometry type $other")
    }
  }

  private def xyOf(t: FbTab): (Array[Double], Int) = t.vector(GXy) match {
    case null => (Array.empty, 0)
    case (start, n) =>
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = t.bb.getDouble(start + 8 * i); i += 1 }
      (out, n)
  }

  private def coordsOf(t: FbTab): Array[Coordinate] = {
    val (xs, n) = xyOf(t)
    Array.tabulate(n / 2)(i => new Coordinate(xs(2 * i), xs(2 * i + 1)))
  }

  /** Cumulative part-end indices in coordinate-pair units; absent ends
    * means one part spanning all `total` coordinates. */
  private def endsOf(t: FbTab, total: Int): Seq[Int] = t.vector(GEnds) match {
    case null => Seq(total)
    case (start, n) => (0 until n).map(i => t.bb.getInt(start + 4 * i))
  }

  /** Nested part geometries, None when the vector is absent. */
  private def partsOf(t: FbTab): Option[Array[Geometry]] = t.vector(GParts) match {
    case null => None
    case (start, n) => Some((0 until n).map { i =>
      val slot = start + 4 * i
      readGeometry(new FbTab(t.bb, slot + t.bb.getInt(slot)), GtUnknown)
    }.toArray)
  }

  private def polygonOf(t: FbTab): Polygon = {
    val cs = coordsOf(t)
    val rings = endsOf(t, cs.length).foldLeft((Seq.empty[LinearRing], 0)) {
      case ((acc, s), e) => (acc :+ factory.createLinearRing(cs.slice(s, e)), e)
    }._1
    factory.createPolygon(rings.head, rings.tail.toArray)
  }

  // ------------------------------------------------------ geometry write

  /** Serialize a JTS geometry as an FGB Geometry table, returning its
    * builder offset. */
  def writeGeometry(b: FlatBufferBuilder, g: Geometry): Int = g match {
    case p: Point =>
      geomTable(b, GtPoint, Array(p.getX, p.getY), null, null)
    case l: LineString =>
      geomTable(b, GtLineString, flat(l.getCoordinates), null, null)
    case p: Polygon =>
      val (xy, ends) = polyFlat(p)
      geomTable(b, GtPolygon, xy, ends, null)
    case mp: MultiPoint =>
      geomTable(b, GtMultiPoint, flat(mp.getCoordinates), null, null)
    case m: MultiLineString =>
      // Spec form: flat xy with cumulative per-part ends (pair units).
      val parts = (0 until m.getNumGeometries)
        .map(m.getGeometryN(_).asInstanceOf[LineString])
      val xy = flat(parts.flatMap(_.getCoordinates).toArray)
      val ends = parts.map(_.getNumPoints).scanLeft(0)(_ + _).tail.toArray
      geomTable(b, GtMultiLineString, xy, ends, null)
    case m: MultiPolygon =>
      val parts = (0 until m.getNumGeometries).map(i => writeGeometry(b, m.getGeometryN(i)))
      geomTable(b, GtMultiPolygon, null, null, parts.toArray)
    case gc: GeometryCollection =>
      val parts = (0 until gc.getNumGeometries).map(i => writeGeometry(b, gc.getGeometryN(i)))
      geomTable(b, GtCollection, null, null, parts.toArray)
  }

  private def flat(cs: Array[Coordinate]): Array[Double] = {
    val out = new Array[Double](cs.length * 2)
    var i = 0
    while (i < cs.length) { out(2 * i) = cs(i).x; out(2 * i + 1) = cs(i).y; i += 1 }
    out
  }

  private def polyFlat(p: Polygon): (Array[Double], Array[Int]) = {
    val rings = p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)
    val xy = flat(rings.flatMap(_.getCoordinates).toArray)
    val ends = rings.map(_.getNumPoints).scanLeft(0)(_ + _).tail.toArray
    (xy, ends)
  }

  private def geomTable(b: FlatBufferBuilder, gt: Int, xy: Array[Double],
      ends: Array[Int], parts: Array[Int]): Int = {
    val partsOff = if (parts == null) 0 else {
      b.startVector(4, parts.length, 4)
      parts.reverseIterator.foreach(b.addOffset)
      b.endVector()
    }
    val xyOff = if (xy == null) 0 else {
      b.startVector(8, xy.length, 8)
      xy.reverseIterator.foreach(b.addDouble)
      b.endVector()
    }
    val endsOff = if (ends == null) 0 else {
      b.startVector(4, ends.length, 4)
      ends.reverseIterator.foreach(b.addInt)
      b.endVector()
    }
    b.startTable(8)
    if (endsOff != 0) b.addOffset(GEnds, endsOff, 0)
    if (xyOff != 0) b.addOffset(GXy, xyOff, 0)
    b.addByte(GType, gt.toByte, 0)
    if (partsOff != 0) b.addOffset(GParts, partsOff, 0)
    b.endTable()
  }

  // --------------------------------------------------------- properties

  /** Pack property values column-index-tagged per the spec. Values align
    * with `columns`; nulls are simply omitted. */
  def packProperties(columns: Seq[FgbColumn], values: Seq[Any]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val w = new java.io.DataOutputStream(bos)
    def le16(v: Int): Unit = { w.write(v & 0xFF); w.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >> 16) & 0xFFFF) }
    def le64(v: Long): Unit = { le32((v & 0xFFFFFFFFL).toInt); le32((v >>> 32).toInt) }
    columns.zip(values).zipWithIndex.foreach { case ((col, v), i) =>
      if (v != null) {
        le16(i)
        col.colType match {
          case CtBool => w.write(if (v.asInstanceOf[Boolean]) 1 else 0)
          case CtInt => le32(v.asInstanceOf[Number].intValue())
          case CtLong => le64(v.asInstanceOf[Number].longValue())
          case CtDouble => le64(java.lang.Double.doubleToLongBits(
            v.asInstanceOf[Number].doubleValue()))
          case CtString =>
            val bytes = v.toString.getBytes("UTF-8")
            le32(bytes.length); w.write(bytes)
          case other => throw new IllegalStateException(s"unsupported FGB column type $other")
        }
      }
    }
    bos.toByteArray
  }

  /** Puts packed properties into `sink`, column `i` into `slots(i)`
    * (skipped where -1); a column the feature lacks is not put. Strings go
    * in as their UTF-8 bytes. */
  def putProperties(columns: Seq[FgbColumn], bytes: Array[Byte], off: Int, len: Int,
      slots: Array[Int], sink: graft.sources.ValueSink): Unit = {
    val end = off + len
    def need(p: Int, n: Int): Unit =
      if (n < 0 || p + n > end) throw new java.nio.BufferUnderflowException
    var p = off
    while (end - p >= 2) {
      val i = (bytes(p) & 0xFF) | ((bytes(p + 1) & 0xFF) << 8)
      p += 2
      val s = slots(i)
      columns(i).colType match {
        case CtBool =>
          need(p, 1)
          if (s >= 0) sink.putBoolean(s, bytes(p) != 0)
          p += 1
        case CtInt =>
          need(p, 4)
          if (s >= 0) sink.putInt(s, le32(bytes, p))
          p += 4
        case CtLong =>
          need(p, 8)
          if (s >= 0) sink.putLong(s, le64(bytes, p))
          p += 8
        case CtDouble =>
          need(p, 8)
          if (s >= 0) sink.putDouble(s, java.lang.Double.longBitsToDouble(le64(bytes, p)))
          p += 8
        case CtString =>
          need(p, 4)
          val n = le32(bytes, p)
          p += 4
          need(p, n)
          if (s >= 0) sink.putUtf8(s, bytes, p, n)
          p += n
        case other => throw new IllegalStateException(s"unsupported FGB column type $other")
      }
    }
  }

  private def le32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8) | ((b(p + 2) & 0xFF) << 16) | ((b(p + 3) & 0xFF) << 24)
  private def le64(b: Array[Byte], p: Int): Long =
    (le32(b, p).toLong & 0xFFFFFFFFL) | (le32(b, p + 4).toLong << 32)

  /** Packed properties as per-column values (null = absent), boxed as
    * [[graft.sources.FeatureBuilder]] boxes them. */
  def unpackProperties(columns: Seq[FgbColumn], bytes: Array[Byte],
      off: Int, len: Int): Array[Any] = {
    val builder = new graft.sources.FeatureBuilder
    putProperties(columns, bytes, off, len, builder.bind(columns.map(_.name).toIndexedSeq), builder)
    builder.props().iterator.map(_._2).toArray
  }

  /** The Spark type of the values [[unpackProperties]] decodes for a
    * column type; NullType for a type it cannot decode. */
  def sparkType(colType: Int): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    colType match {
      case CtBool => BooleanType
      case CtInt => IntegerType
      case CtLong => LongType
      case CtDouble => DoubleType
      case CtString => StringType
      case _ => NullType
    }
  }

  // -------------------------------------------------------- header write

  def writeHeader(name: String, geometryType: Int, columns: Seq[FgbColumn],
      featuresCount: Long, indexNodeSize: Int = 0,
      envelope: Option[FgbIndex.Box] = None): Array[Byte] = {
    val b = new FlatBufferBuilder(256)
    val colOffs = columns.map { c =>
      val n = b.createString(c.name)
      b.startTable(11)
      b.addOffset(0, n, 0)
      b.addByte(1, c.colType.toByte, 0)
      b.endTable()
    }
    val colsVec = if (colOffs.isEmpty) 0 else {
      b.startVector(4, colOffs.length, 4)
      colOffs.reverseIterator.foreach(b.addOffset)
      b.endVector()
    }
    val envVec = envelope.fold(0) { e =>
      b.startVector(8, 4, 8)
      Seq(e.maxY, e.maxX, e.minY, e.minX).foreach(b.addDouble) // reversed build
      b.endVector()
    }
    val nameOff = b.createString(name)
    b.startTable(14)
    b.addOffset(0, nameOff, 0)
    if (envVec != 0) b.addOffset(1, envVec, 0)
    b.addByte(2, geometryType.toByte, 0)
    if (colsVec != 0) b.addOffset(7, colsVec, 0)
    b.addLong(8, featuresCount, 0L)
    b.addShort(9, indexNodeSize.toShort, 16) // 0 = no index region
    b.finishSizePrefixed(b.endTable())
    b.sizedByteArray()
  }

  /** One size-prefixed Feature record. */
  def writeFeature(geom: Geometry, columns: Seq[FgbColumn],
      values: Seq[Any]): Array[Byte] = {
    val b = new FlatBufferBuilder(512)
    val props = packProperties(columns, values)
    val propsOff = if (props.isEmpty) 0 else {
      b.startVector(1, props.length, 1)
      props.reverseIterator.foreach(b.addByte)
      b.endVector()
    }
    val geomOff = if (geom == null) 0 else writeGeometry(b, geom)
    b.startTable(3)
    if (geomOff != 0) b.addOffset(0, geomOff, 0)
    if (propsOff != 0) b.addOffset(1, propsOff, 0)
    b.finishSizePrefixed(b.endTable())
    b.sizedByteArray()
  }
}
