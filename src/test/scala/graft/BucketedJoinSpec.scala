package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Graft

/** Bucketed tables must join WITHOUT a shuffle: the whole point of paying
  * the bucketed write is that every later equi-join on the bucket key is
  * exchange-free. Broadcast is disabled so the small test tables can't
  * sidestep the claim. */
class BucketedJoinSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  test("equi-join of two same-bucket-count tables plans no Exchange") {
    val s = spark
    val restoreBroadcast = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val tmp = TempDirs.untilExit("graft_bktspec_").toString
      val orders = s.read.parquet(s"$sf0001/orders.parquet")
      val lineitem = s.read.parquet(s"$sf0001/lineitem.parquet")
      Graft.writeBucketed(orders, "bktspec_orders", "o_orderkey", 8,
        Some(s"$tmp/orders"))
      Graft.writeBucketed(lineitem, "bktspec_lineitem", "l_orderkey", 8,
        Some(s"$tmp/lineitem"))
      val j = s.table("bktspec_lineitem")
        .join(s.table("bktspec_orders"),
          s.table("bktspec_lineitem")("l_orderkey") === s.table("bktspec_orders")("o_orderkey"))
      val n = j.count()
      assert(n === lineitem.count()) // every lineitem has its order
      val plan = j.queryExecution.executedPlan
      val exchanges = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"bucketed join must not shuffle, found: ${exchanges.mkString(", ")}")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", restoreBroadcast)
      s.sql("DROP TABLE IF EXISTS bktspec_orders")
      s.sql("DROP TABLE IF EXISTS bktspec_lineitem")
    }
  }

  test("bucketed groupBy on the bucket key also avoids the shuffle") {
    val s = spark
    val tmp = TempDirs.untilExit("graft_bktspec2_").toString
    val orders = s.read.parquet(s"$sf0001/orders.parquet")
    Graft.writeBucketed(orders, "graft_bktspec2_orders", "o_orderkey", 8,
      Some(s"$tmp/orders"))
    try {
      val agg = s.table("graft_bktspec2_orders")
        .groupBy("o_orderkey").count()
      agg.collect()
      val exchanges = collectWithSubqueries(agg.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, "groupBy on bucket key must reuse bucketing")
    } finally s.sql("DROP TABLE IF EXISTS graft_bktspec2_orders")
  }
}
