package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.PlanDump

/** `PlanDump.checkpointPlans` sees the executed plan that fed each eager
  * checkpoint, through a query listener, with no hook in the operators. */
class PlanCaptureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("three eager localCheckpoint calls yield exactly their three input plans, in order") {
    val (result, plans) = PlanDump.checkpointPlans(spark) {
      val kept = spark.range(0, 100, 1, 4).filter(col("id") % 3 === 0).localCheckpoint()
      assert(kept.count() === 34) // an action that is not a checkpoint is not captured
      val counts = kept.groupBy((col("id") % 5).as("k")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      counts.orderBy(col("n").desc, col("k")).localCheckpoint()
    }
    assert(plans.size === 3)
    assert(plans(0).contains("Filter") && plans(0).contains("Range"))
    assert(!plans(0).contains("HashAggregate"))
    assert(plans(1).contains("HashAggregate") && plans(1).contains("Scan ExistingRDD"))
    assert(!plans(1).contains("Sort "))
    assert(plans(2).contains("Sort ") && plans(2).contains("Scan ExistingRDD"))
    assert(result.collect().map(_.getLong(1)).sum === 34)
  }

  test("a build that runs no checkpoint yields no plans") {
    val (n, plans) = PlanDump.checkpointPlans(spark)(spark.range(10).count())
    assert(n === 10 && plans.isEmpty)
  }
}
