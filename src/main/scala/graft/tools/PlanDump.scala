package graft.tools

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-evidence capture: dumps `.explain("formatted")` for named queries
  * together with the executed plan that fed each eager checkpoint the
  * query ran while it was built. Without the checkpoint plans, a dump
  * downstream of a checkpoint shows only a `Scan ExistingRDD` stub.
  * Spark runs `Dataset.localCheckpoint`/`checkpoint` as a named action,
  * so a [[QueryExecutionListener]] sees each of those plans with no code
  * in the operators.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> <query>...
  * writes <outDir>/<query>_<tag>.txt (final plan first, then each
  * checkpoint's plan in the order they ran). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args.drop(3).toSeq
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      try {
        val (finalPlan, plans) = checkpointPlans(spark) {
          graft.SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.explainString(FormattedMode)
        }
        val body = new StringBuilder
        body ++= s"== $name ($tag) — final plan ==\n"
        body ++= finalPlan
        for ((plan, i) <- plans.zipWithIndex) {
          body ++= s"\n== $name ($tag) — checkpoint ${i + 1} input plan ==\n"
          body ++= plan
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
          body.toString.getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/${name}_$tag.txt (${plans.size} checkpoint plans)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }

  /** Runs `build` and returns its result with the formatted executed plan
    * of every checkpoint it ran on `spark`, in the order they ran.
    * Listener events arrive asynchronously and in order, so a marker
    * action run after `build` is waited for (at most a minute): once it
    * arrives, every checkpoint before it has been seen. */
  def checkpointPlans[A](spark: SparkSession)(build: => A): (A, Seq[String]) = {
    val plans = new ConcurrentLinkedQueue[String]()
    val marker = spark.range(1)
    val markerSeen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq marker.queryExecution) markerSeen.countDown()
        else if (funcName == "localCheckpoint" || funcName == "checkpoint")
          plans.add(qe.explainString(FormattedMode))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = build
      marker.collect()
      if (!markerSeen.await(1, TimeUnit.MINUTES))
        throw new IllegalStateException("checkpoint plans did not arrive within a minute")
      (result, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
