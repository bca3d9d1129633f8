package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.encoders.RowEncoder

/** End-to-end DSv2 writer robustness under REAL speculative execution.
  *
  * Local-mode Spark never starts the speculation thread
  * (`TaskSchedulerImpl.start` guards on `!isLocal`), so CommitRaceSpec's
  * unit-level promote/verify coverage could not be driven by a genuine
  * scheduler-launched duplicate attempt inside `sbt test`. This main runs
  * under a `local-cluster[...]` master via spark-submit (SpeculationSpec
  * wires that up), where the speculation scheduler is live:
  *
  *   - partition 0's FIRST write attempt sleeps while every other task
  *     finishes in milliseconds, so the scheduler launches a speculative
  *     copy (asserted via a listener — the run FAILS if none launched);
  *   - the copy wins the task commit; the sleeping original becomes the
  *     zombie loser and must abort cleanly (attempt-file isolation);
  *   - both a multi-partition GeoParquet and a multi-partition shapefile
  *     dataset are then read back and compared row-for-row against the
  *     source, and the output directories are swept for leaked attempt
  *     files.
  *
  * Prints one `SPECULATION-CHECK OK ...` line and exits 0 on success;
  * exits 1 with a reason otherwise.
  */
object SpeculationCheck {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_speculation_check")
    val spark = SparkSession.builder()
      .appName("graft-speculation-check")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val speculative = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (e.taskInfo.speculative) speculative.incrementAndGet()
    })

    val src = spark.read.format("geojson")
      .load(s"${graft.Fixtures.dir}/us_states.feature_collection.implicit_4326.json")
    val schema = src.schema
    val expected = src.selectExpr("NAME").collect().map(_.getString(0)).sorted
    // 8 partitions; partition 0's first attempt stalls INSIDE the write
    // stage (mapPartitions fuses with the DSv2 write), so the speculative
    // re-attempt races the original through task commit for real.
    val enc = RowEncoder.encoderFor(schema)
    val slow = src.repartition(8).mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0)
        Thread.sleep(12000)
      it
    }(enc)

    // GeoParquet is the API-object writer (overwrite = write-then-swap
    // with attempt isolation); shapefile goes through the DSv2 path.
    graft.sources.geoparquet.GeoParquet.write(slow, s"$out/gp.d")
    slow.write.format("shapefile").mode("overwrite").save(s"$out/shp.d")

    def fail(msg: String): Nothing = {
      System.err.println(s"SPECULATION-CHECK FAIL: $msg")
      spark.stop()
      sys.exit(1)
    }
    if (speculative.get() < 1)
      fail("no speculative task attempt was launched — the race was not exercised")
    for ((dir, fmt) <- Seq(s"$out/gp.d" -> "geoparquet", s"$out/shp.d" -> "shapefile")) {
      // The zombie original is killed when the stage completes; its abort
      // (attempt-file cleanup) races this sweep — give it a grace window.
      def leaks(): Seq[String] =
        new java.io.File(dir).listFiles().toSeq.filter { f =>
          val n = f.getName
          n.endsWith(".inprogress") || f.isFile && (n.startsWith(".tmp-") ||
            n.startsWith(".old-") || n.matches(".*-a\\d+\\.[a-z]+$"))
        }.map(_.getName)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (leaks().nonEmpty && System.nanoTime() < deadline) Thread.sleep(500)
      val leaked = leaks()
      if (leaked.nonEmpty)
        fail(s"$fmt left attempt files behind: ${leaked.mkString(", ")}")
      val back = (if (fmt == "geoparquet")
          graft.sources.geoparquet.GeoParquet.read(spark, dir)
        else spark.read.format(fmt).load(dir))
        .selectExpr("NAME").collect().map(_.getString(0)).sorted
      if (!(back sameElements expected))
        fail(s"$fmt round trip mismatch: ${back.length} rows vs ${expected.length}")
    }
    println(s"SPECULATION-CHECK OK speculativeTasks=${speculative.get()} rows=${expected.length}")
    spark.stop()
  }
}
