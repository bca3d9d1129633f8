package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.StIntersectsBbox
import graft.sources.{FeatureTable, GdalOptions}

/** Spatial filter pushdown — the Catalyst half of the reference's
  * `set_spatial_filter` delegation to GDAL (reference src/lib.rs:316-319).
  *
  * `df.filter(st_intersects_bbox(geometry, x0, y0, x1, y1))` over a graft
  * feature scan is rewritten so the box rides into the scan as its `bbox`
  * option, where the format serves it natively: the FlatGeobuf packed
  * Hilbert R-tree plans byte-range splits over matching features only,
  * and shapefile scans prune whole files by header extent and records by
  * stored box before geometry parse. The original predicate STAYS in the
  * plan — scan-level pruning is envelope-level and strictly an
  * optimization; Spark's `Filter` above the scan keeps exact semantics,
  * as it does for every other predicate (the scan pushes none).
  *
  * Runs as an injected optimizer rule (operator-optimization batch), i.e.
  * before V2ScanRelationPushDown turns the relation into a scan. */
class BboxPushdownRule(spark: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, rel: DataSourceV2Relation)
        if rel.table.isInstanceOf[FeatureTable] && !rel.options.containsKey("bbox") =>
      val geomCol = GdalOptions(rel.options).geometryColumnName
      val boxes = splitConjunctivePredicates(cond).collect {
        case b @ StIntersectsBbox(a: AttributeReference, _, _, _, _)
            if a.name.equalsIgnoreCase(geomCol) => b
      }
      if (boxes.isEmpty) f
      else {
        // multiple conjunct boxes intersect; an empty intersection still
        // pushes (scan returns nothing, residual agrees)
        val bx = boxes.map(b => (b.minX, b.minY, b.maxX, b.maxY)).reduce {
          (l, r) => (math.max(l._1, r._1), math.max(l._2, r._2),
            math.min(l._3, r._3), math.min(l._4, r._4))
        }
        val merged = rel.options.asCaseSensitiveMap.asScala.toMap +
          ("bbox" -> s"${bx._1},${bx._2},${bx._3},${bx._4}")
        f.copy(child = rel.copy(options = new CaseInsensitiveStringMap(merged.asJava)))
      }
  }
}
