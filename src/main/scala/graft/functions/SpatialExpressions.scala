package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geom.GeomCodec

/** Spatial predicates and measures over WKB geometry columns — beyond the
  * reference's codec-only surface (SURVEY.md §2.7) but table stakes for a
  * GDAL-class engine. All JTS-backed, codegen'd static calls. */
object SpatialFns {
  def area(wkb: Array[Byte]): Double = GeomCodec.fromWkb(wkb).getArea
  def length(wkb: Array[Byte]): Double = GeomCodec.fromWkb(wkb).getLength
  def centroid(wkb: Array[Byte]): Array[Byte] =
    GeomCodec.toWkb(GeomCodec.fromWkb(wkb).getCentroid)
  def envelope(wkb: Array[Byte]): Array[Byte] =
    GeomCodec.toWkb(GeomCodec.fromWkb(wkb).getEnvelope)
  def geometryType(wkb: Array[Byte]): UTF8String =
    UTF8String.fromString(GeomCodec.fromWkb(wkb).getGeometryType)
  def npoints(wkb: Array[Byte]): Int = GeomCodec.fromWkb(wkb).getNumPoints
  def isValid(wkb: Array[Byte]): Boolean = GeomCodec.fromWkb(wkb).isValid
  /** st_dump-style decomposition to SIMPLE geometries: recurses through
    * Multi* and (possibly nested) GeometryCollections, so the result
    * never contains a multi-part component (PostGIS ST_Dump semantics).
    * A simple geometry yields itself. */
  def parts(wkb: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    def walk(g: org.locationtech.jts.geom.Geometry): Unit =
      if (g.getNumGeometries <= 1 && !g.isInstanceOf[org.locationtech.jts.geom.GeometryCollection])
        out += GeomCodec.toWkb(g)
      else {
        var i = 0
        while (i < g.getNumGeometries) { walk(g.getGeometryN(i)); i += 1 }
      }
    walk(GeomCodec.fromWkb(wkb))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
  def intersects(a: Array[Byte], b: Array[Byte]): Boolean =
    GeomCodec.fromWkb(a).intersects(GeomCodec.fromWkb(b))
  def contains(a: Array[Byte], b: Array[Byte]): Boolean =
    GeomCodec.fromWkb(a).contains(GeomCodec.fromWkb(b))
  def within(a: Array[Byte], b: Array[Byte]): Boolean =
    GeomCodec.fromWkb(a).within(GeomCodec.fromWkb(b))
  def distance(a: Array[Byte], b: Array[Byte]): Double =
    GeomCodec.fromWkb(a).distance(GeomCodec.fromWkb(b))
  def buffer(wkb: Array[Byte], d: Double): Array[Byte] =
    GeomCodec.toWkb(GeomCodec.fromWkb(wkb).buffer(d))
  def intersectsBbox(wkb: Array[Byte], minX: Double, minY: Double,
      maxX: Double, maxY: Double): Boolean = {
    val e = GeomCodec.fromWkb(wkb).getEnvelopeInternal
    !(e.getMinX > maxX || e.getMinY > maxY || e.getMaxX < minX || e.getMaxY < minY)
  }
  def xmin(wkb: Array[Byte]): Double = GeomCodec.fromWkb(wkb).getEnvelopeInternal.getMinX
  def ymin(wkb: Array[Byte]): Double = GeomCodec.fromWkb(wkb).getEnvelopeInternal.getMinY
  def xmax(wkb: Array[Byte]): Double = GeomCodec.fromWkb(wkb).getEnvelopeInternal.getMaxX
  def ymax(wkb: Array[Byte]): Double = GeomCodec.fromWkb(wkb).getEnvelopeInternal.getMaxY
  def convexHull(wkb: Array[Byte]): Array[Byte] =
    GeomCodec.toWkb(GeomCodec.fromWkb(wkb).convexHull())
  def simplify(wkb: Array[Byte], tolerance: Double): Array[Byte] =
    GeomCodec.toWkb(org.locationtech.jts.simplify.DouglasPeuckerSimplifier
      .simplify(GeomCodec.fromWkb(wkb), tolerance))
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    GeomCodec.toWkb(GeomCodec.fromWkb(a).union(GeomCodec.fromWkb(b)))
}

/** `st_union_agg(geometry)` — geometric union of a group, the custom-agg
  * class SURVEY §2.9 flags (no Spark builtin). An `Aggregator` so Spark
  * plans partial+final aggregation: per-partition unions reduce
  * executor-side (union is associative and commutative), only one
  * geometry per partition per group crosses the shuffle — the same
  * scale shape as any algebraic aggregate. For pure EXTENT questions
  * prefer `min(st_xmin(g))`/`max(st_xmax(g))` etc., which stay fully
  * codegen'd. */
class StUnionAgg extends org.apache.spark.sql.expressions.Aggregator[
    Array[Byte], Array[Byte], Array[Byte]] {
  import org.apache.spark.sql.{Encoder, Encoders}
  override def zero: Array[Byte] = null
  override def reduce(buf: Array[Byte], g: Array[Byte]): Array[Byte] =
    if (g == null) buf else if (buf == null) g else SpatialFns.union(buf, g)
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    if (a == null) b else if (b == null) a else SpatialFns.union(a, b)
  override def finish(r: Array[Byte]): Array[Byte] = r
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

// Abstract members (not constructor params): executors deserialize these
// expressions with Java serialization, which requires a no-arg superclass
// constructor.
abstract class UnarySpatial extends UnaryExpression {
  protected def fn: String
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SpatialFns.$fn($c)")
}

case class StArea(child: Expression) extends UnarySpatial {
  protected def fn: String = "area"
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_area"
  protected override def nullSafeEval(i: Any): Any = SpatialFns.area(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StArea = copy(child = c)
}
case class StLength(child: Expression) extends UnarySpatial {
  protected def fn: String = "length"
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_length"
  protected override def nullSafeEval(i: Any): Any = SpatialFns.length(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StLength = copy(child = c)
}
case class StCentroid(child: Expression) extends UnarySpatial {
  protected def fn: String = "centroid"
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_centroid"
  protected override def nullSafeEval(i: Any): Any = SpatialFns.centroid(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StCentroid = copy(child = c)
}
case class StEnvelope(child: Expression) extends UnarySpatial {
  protected def fn: String = "envelope"
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_envelope"
  protected override def nullSafeEval(i: Any): Any = SpatialFns.envelope(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StEnvelope = copy(child = c)
}
case class StGeometryType(child: Expression) extends UnarySpatial {
  protected def fn: String = "geometryType"
  override def dataType: DataType = StringType
  override def prettyName: String = "st_geometrytype"
  protected override def nullSafeEval(i: Any): Any = SpatialFns.geometryType(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StGeometryType = copy(child = c)
}
case class StNPoints(child: Expression) extends UnarySpatial {
  protected def fn: String = "npoints"
  override def dataType: DataType = IntegerType
  override def prettyName: String = "st_npoints"
  protected override def nullSafeEval(i: Any): Any = SpatialFns.npoints(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StNPoints = copy(child = c)
}
/** st_parts(geom) → array<binary>: the component geometries (st_dump).
  * Compose with builtin `explode` for the one-row-per-part form —
  * SURVEY.md §2.9's only Generator-shaped need. */
case class StParts(child: Expression) extends UnarySpatial {
  protected def fn: String = "parts"
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "st_parts"
  protected override def nullSafeEval(i: Any): Any =
    SpatialFns.parts(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StParts = copy(child = c)
}
case class StIsValid(child: Expression) extends UnarySpatial {
  protected def fn: String = "isValid"
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_isvalid"
  protected override def nullSafeEval(i: Any): Any = SpatialFns.isValid(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StIsValid = copy(child = c)
}
case class StXMin(child: Expression) extends UnarySpatial {
  protected def fn: String = "xmin"
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_xmin"
  protected override def nullSafeEval(i: Any): Any = SpatialFns.xmin(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StXMin = copy(child = c)
}
case class StYMin(child: Expression) extends UnarySpatial {
  protected def fn: String = "ymin"
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_ymin"
  protected override def nullSafeEval(i: Any): Any = SpatialFns.ymin(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StYMin = copy(child = c)
}
case class StXMax(child: Expression) extends UnarySpatial {
  protected def fn: String = "xmax"
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_xmax"
  protected override def nullSafeEval(i: Any): Any = SpatialFns.xmax(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StXMax = copy(child = c)
}
case class StYMax(child: Expression) extends UnarySpatial {
  protected def fn: String = "ymax"
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_ymax"
  protected override def nullSafeEval(i: Any): Any = SpatialFns.ymax(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StYMax = copy(child = c)
}
case class StConvexHull(child: Expression) extends UnarySpatial {
  protected def fn: String = "convexHull"
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_convexhull"
  protected override def nullSafeEval(i: Any): Any = SpatialFns.convexHull(i.asInstanceOf[Array[Byte]])
  protected override def withNewChildInternal(c: Expression): StConvexHull = copy(child = c)
}

abstract class BinarySpatial extends BinaryExpression {
  protected def fn: String
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SpatialFns.$fn($a, $b)")
}

/** `st_intersects_bbox(geometry, xmin, ymin, xmax, ymax)` — envelope
  * intersection against a constant box. The box rides as case-class
  * fields (the registration builder folds the literal arguments), which
  * keeps codegen unary AND lets [[graft.plans.BboxPushdownRule]] read the
  * box straight off the expression to turn it into a scan-level `bbox`
  * option (FGB packed R-tree / shapefile record boxes). Generated code
  * reads the box as a reference object, not as literals in the source:
  * every window over one plan shape shares one compiled class, and an
  * infinite bound compiles. */
case class StIntersectsBbox(child: Expression, minX: Double, minY: Double,
    maxX: Double, maxY: Double) extends UnarySpatial {
  protected def fn: String = "intersectsBbox"
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_intersects_bbox"
  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val box = ctx.addReferenceObj("bbox", Array(minX, minY, maxX, maxY), "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SpatialFns.intersectsBbox($c, $box[0], $box[1], $box[2], $box[3])")
  }
  protected override def nullSafeEval(i: Any): Any =
    SpatialFns.intersectsBbox(i.asInstanceOf[Array[Byte]], minX, minY, maxX, maxY)
  protected override def withNewChildInternal(c: Expression): StIntersectsBbox = copy(child = c)
}

case class StIntersects(left: Expression, right: Expression)
  extends BinarySpatial {
  protected def fn: String = "intersects"
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_intersects"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    SpatialFns.intersects(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StIntersects =
    copy(left = l, right = r)
}
case class StContains(left: Expression, right: Expression)
  extends BinarySpatial {
  protected def fn: String = "contains"
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_contains"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    SpatialFns.contains(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StContains =
    copy(left = l, right = r)
}
case class StWithin(left: Expression, right: Expression)
  extends BinarySpatial {
  protected def fn: String = "within"
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_within"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    SpatialFns.within(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StWithin =
    copy(left = l, right = r)
}
case class StDistance(left: Expression, right: Expression)
  extends BinarySpatial {
  protected def fn: String = "distance"
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_distance"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    SpatialFns.distance(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StDistance =
    copy(left = l, right = r)
}
case class StBuffer(left: Expression, right: Expression)
  extends BinarySpatial with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, DoubleType)
  protected def fn: String = "buffer"
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_buffer"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    SpatialFns.buffer(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StBuffer =
    copy(left = l, right = r)
}
case class StSimplify(left: Expression, right: Expression)
  extends BinarySpatial with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, DoubleType)
  protected def fn: String = "simplify"
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_simplify"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    SpatialFns.simplify(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Double])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StSimplify =
    copy(left = l, right = r)
}
case class StUnion(left: Expression, right: Expression)
  extends BinarySpatial {
  protected def fn: String = "union"
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_union"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    SpatialFns.union(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected override def withNewChildrenInternal(l: Expression, r: Expression): StUnion =
    copy(left = l, right = r)
}
