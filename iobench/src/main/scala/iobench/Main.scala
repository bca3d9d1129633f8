package iobench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.IobenchBridge
import org.apache.spark.sql.SparkSession

/** I/O-bridge benchmark: times the program's DSv2 sources, writers,
  * geometry codecs and bytes API from outside, on generated inputs, and
  * checks every output against the generator's truth.
  *
  * {{{
  * Main --workload <ingest_points|serve_requests>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * One process, local mode with at most four worker threads, one client
  * issuing operations in a closed loop. The last stdout line is the JSON
  * result; the report and (traced) spans go to stderr and `--work`. */
object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  /** Set-up cycles of an untraced run; `setup_s` is their median, the
    * first cycle after the cold one. More cycles would reach a warmer one,
    * at about five seconds each of every run's time. */
  private val SetupCycles = 3

  final case class Failure(kind: String, error: String, message: String)

  /** One loop round: features, passed operations, and their wall and
    * Java-thread CPU nanoseconds. */
  final case class Round(features: Long, ops: Int, wallNs: Long, cpuNs: Long)

  /** Outcome of the measured loop. */
  final class Tally {
    val latenciesNs = mutable.ArrayBuffer.empty[Long]
    val kinds = mutable.ArrayBuffer.empty[String]
    var features = 0L
    /** CPU of the Java threads during passed operations. */
    var cpuNs = 0L
    /** The same for the whole process, the JVM's compiler and collector
      * threads included, in clock ticks of 10 ms. */
    var procCpuNs = 0L
    var bytes = 0L
    var bytesFeatures = 0L
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[Failure]
    val rounds = mutable.ArrayBuffer.empty[Round]
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of each live Java thread of this process: the engine's
    * task, scheduler and RPC threads and the client. The kernel leaves out
    * time a virtual CPU was stolen by the host, and a thread waiting for a
    * CPU accrues none, so this moves far less than wall time on a shared
    * host. The JVM's compiler and collector threads are not Java threads;
    * their share follows JIT warm-up more than the operation. */
  def threadCpu(): mutable.LongMap[Long] = {
    val ids = threads.getAllThreadIds
    val ns = threads.getThreadCpuTime(ids)
    val m = mutable.LongMap.empty[Long]
    for (i <- ids.indices if ns(i) >= 0) m(ids(i)) = ns(i)
    m
  }

  /** CPU nanoseconds the Java threads spent since `before`. */
  def cpuSince(before: mutable.LongMap[Long]): Long =
    threadCpu().foldLeft(0L) { case (acc, (id, ns)) => acc + ns - before.getOrElse(id, 0L) }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("iobench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Records a failed operation by the class of its root cause. */
  def failure(kind: String, e: Throwable): Failure = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    System.err.println(s"[iobench] FAILED $kind: ${root.getClass.getName}: ${root.getMessage}")
    Failure(kind, root.getClass.getName, String.valueOf(root.getMessage).take(300))
  }

  /** Runs one operation: times `run`, then (untimed) checks its output and
    * drains the listener bus so engine events are charged to it. */
  def runOp(spark: SparkSession, op: Op, id: Int, tally: Tally): Unit = {
    Trace.currentOp = id
    tally.attempted += 1
    try {
      val p0 = os.getProcessCpuTime
      val c0 = threadCpu()
      val t0 = System.nanoTime()
      val done = Trace.span(s"bench.${op.kind}")(op.run())
      val dt = System.nanoTime() - t0
      val dc = cpuSince(c0)
      val dp = os.getProcessCpuTime - p0
      Trace.span("bench.check")(done.check())
      tally.latenciesNs += dt
      tally.cpuNs += dc
      tally.procCpuNs += dp
      tally.kinds += op.kind
      tally.features += done.features
      if (done.bytes > 0) { tally.bytes += done.bytes; tally.bytesFeatures += done.features }
    } catch {
      case e: Throwable => tally.failures += failure(op.kind, e)
    } finally IobenchBridge.drainListeners(spark.sparkContext)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    work.mkdirs()

    // JVM start to here; every set-up cycle counts it once
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    var spark = session(work)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val wl = Workloads(wlName, seed, work)
    val checks = new Tally
    var opId = 0
    def runAll(ops: Seq[Op], t: Tally): Unit = ops.foreach { op => opId += 1; runOp(spark, op, opId, t) }

    // inputs: generated and written by the program's own writers, then
    // checked against the truth before anything is timed; not set-up time
    val i0 = System.nanoTime()
    val inputChecks = try wl.prepare(spark) catch {
      case e: Throwable =>
        checks.attempted += 1
        checks.failures += failure("prepare", e)
        Nil
    }
    // the checks are independent reads, run from a few client threads
    Workloads.parallel(inputChecks.map { op => () =>
      try { op.run().check(); None }
      catch { case e: Throwable => Some(failure(op.kind, e)) }
    }).foreach { f =>
      checks.attempted += 1
      f.foreach(checks.failures += _)
    }
    IO.syncTree(work)
    val inputsS = (System.nanoTime() - i0) / 1e9

    // set-up cycle: JVM start, session ready, and warm-up (open the
    // workload and run one verified round). The first cycle counts from
    // JVM start. Each later one stops the engine and builds a new session
    // with its extensions, and adds the JVM start of the first, so every
    // cycle holds the same steps; only the first runs on a cold JIT.
    def warm(): Double = {
      val t0 = System.nanoTime()
      wl.open(spark)
      runAll(wl.round(0), checks)
      (System.nanoTime() - t0) / 1e9
    }
    val setups = mutable.ArrayBuffer(sessionS + warm())
    if (!traced) for (_ <- 1 until SetupCycles) {
      stop(spark)
      val t0 = System.nanoTime()
      spark = session(work)
      val built = (System.nanoTime() - t0) / 1e9
      setups += jvmS + built + warm()
    }

    // rounds still get faster after the set-up cycles, and the loop's CPU
    // time follows how far the JIT has got, so one more untimed round
    runAll(wl.round(0), checks)

    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    Trace.enabled = traced

    val tally = new Tally
    val gc0 = gcSeconds()
    val firstOp = opId + 1
    val t0 = System.nanoTime()
    // whole rounds keep the operation mix fixed; another round starts only
    // if it is expected to end closer to the deadline than stopping now
    var round = 1
    var elapsed = 0.0
    while (round == 1 || elapsed + elapsed / (round - 1) / 2 < seconds) {
      val (f0, n0, b0, c0) = (tally.features, tally.latenciesNs.size, tally.latenciesNs.sum, tally.cpuNs)
      runAll(wl.round(round), tally)
      tally.rounds += Round(tally.features - f0, tally.latenciesNs.size - n0,
        tally.latenciesNs.sum - b0, tally.cpuNs - c0)
      elapsed = (System.nanoTime() - t0) / 1e9
      round += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val gcS = gcSeconds() - gc0
    Trace.enabled = false
    val loopOps = (firstOp to opId).map(listener.stats)

    val attempted = checks.attempted + tally.attempted
    val failures = checks.failures ++ tally.failures
    var probeAttempted = 0
    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd(tally, setups.toSeq, attempted, failures.size)
      else {
        val report = new Report(spark, wl, work, listener)
        val m = report.loopMetrics(tally, loopOps, loopS, gcS) ++ report.layerProbe()
        failures ++= report.failures
        probeAttempted = report.attempted
        m
      }

    System.err.println(f"[iobench] $wlName seed=$seed rounds=${round - 1} ops=${tally.attempted} " +
      f"inputs=$inputsS%.2fs setups=${setups.map(s => f"$s%.2f").mkString(",")} loop=$loopS%.2fs " +
      f"round_cpu_s=${tally.rounds.map(r => f"${r.cpuNs / 1e9}%.2f").mkString(",")} " +
      f"round_wall_s=${tally.rounds.map(r => f"${r.wallNs / 1e9}%.2f").mkString(",")}")
    System.err.println("[iobench] median ms by kind: " + tally.kinds.zip(tally.latenciesNs).groupBy(_._1)
      .toSeq.sortBy(_._1).map { case (k, v) => f"$k=${percentile(v.map(_._2 / 1e6).toSeq, 0.5)}%.0f" }.mkString(" "))
    failures.foreach(f => System.err.println(s"[iobench] failure ${f.kind} ${f.error}: ${f.message}"))
    metrics.foreach { case (n, v, u) => System.err.println(f"[iobench]   $n%-44s $v%14.4f $u") }

    stop(spark)
    println(json(failures.isEmpty, attempted + probeAttempted, failures.size, metrics))
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Median over rounds of `f(round)`, so one slow round does not move it. */
  def perRound(t: Tally)(f: Round => Double): Double =
    percentile(t.rounds.filter(r => r.wallNs > 0 && r.cpuNs > 0).map(f).toSeq, 0.5)

  /** Geometric mean over operation kinds of each kind's median latency. A
    * mix of kinds with far apart latencies makes a pooled median jump
    * between kinds; this weighs every kind once and moves smoothly. */
  def kindMedianMs(t: Tally): Double =
    math.exp(t.latenciesNs.map(_ / 1e6).zip(t.kinds).groupBy(_._2).values
      .map(ks => math.log(percentile(ks.map(_._1).toSeq, 0.5))).sum / math.max(1, t.kinds.distinct.size))

  /** The loop's figures are per CPU second of the Java threads, over the
    * whole loop, not per wall second: on a shared host, wall time follows
    * the CPU the host steals from the run (see NOTES.md). The wall-clock
    * figures are per-layer metrics. */
  def endToEnd(t: Tally, setups: Seq[Double], attempted: Int, failed: Int): Seq[(String, Double, String)] =
    Seq(
      ("setup_s", percentile(setups, 0.5), "s"),
      ("ok_rate", if (attempted == 0) 0.0 else (attempted - failed).toDouble / attempted, "ratio"),
      ("features_per_cpu_s", if (t.cpuNs > 0) t.features / (t.cpuNs / 1e9) else 0.0, "1/s"),
      ("cpu_ms_per_op", t.cpuNs / 1e6 / math.max(1, t.latenciesNs.size), "ms"),
      ("bytes_per_feature", if (t.bytesFeatures > 0) t.bytes.toDouble / t.bytesFeatures else 0.0, "B"))

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
  }
}
