package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition pruning must stay free: a filter on the partition column of
  * a partitionBy-written table prunes directories at PLAN time — the
  * pattern that turns a 100 TB date-partitioned corpus scan into a
  * one-partition read. Pinned structurally (files read, not timing). */
class PartitionPruneSpec extends AnyFunSuite {
  import TestSpark._

  test("filter on the partition column prunes directories at plan time") {
    val s = spark; import s.implicits._
    val outDir = TempDirs.untilExit("graft_prune_").toPath
    val out = outDir.toString
    try {
    s.read.parquet(s"$sf0001/orders.parquet")
      .withColumn("o_year", year($"o_orderdate"))
      .write.partitionBy("o_year").mode("overwrite").parquet(out)
    val years = s.read.parquet(out).select("o_year").distinct()
      .as[Int].collect().sorted
    assert(years.length > 1, s"need multiple partitions, got ${years.toSeq}")

    val one = s.read.parquet(out).filter($"o_year" === years.head)
    val plan = one.queryExecution.executedPlan.toString
    // the partition filter reaches the scan — assert o_year INSIDE the
    // PartitionFilters bracket ("PartitionFilters: []" with o_year merely
    // in the output columns must NOT pass)
    val pf = plan.linesIterator.mkString
      .split("PartitionFilters: \\[").lift(1).map(_.takeWhile(_ != ']'))
    assert(pf.exists(_.contains("o_year")), s"no pushed partition filter in: $plan")
    // …and the scan actually plans a strict subset of the files
    def filesPlanned(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves().map {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
        case _ => 0L
      }.sum
    val all = filesPlanned(s.read.parquet(out))
    val pruned = filesPlanned(one)
    assert(pruned > 0 && pruned < all, s"pruned=$pruned all=$all")
    // correctness: pruned read equals the unpruned filter
    val expect = s.read.parquet(s"$sf0001/orders.parquet")
      .filter(year($"o_orderdate") === years.head).count()
    assert(one.count() === expect)
    } finally { // don't leak a parquet tree per run
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(outDir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
