package iobench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's calls into each layer. A span
  * has a name (`<layer>.<call>`), start, end, parent span and operation
  * id; engine jobs reported by [[EngineListener]] become spans too. Spans
  * are only recorded when tracing is on and are written out at the end. */
object Trace {
  final case class Span(id: Int, name: String, start: Long, end: Long, var parent: Int, op: Int) {
    def layer: String = name.takeWhile(_ != '.')
  }

  @volatile var enabled = false
  @volatile var currentOp = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  // engine events carry wall-clock milliseconds; spans use nanoTime
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized { spans += Span(id, name, t0, t1, parent, currentOp) }
      }
    }

  def engineSpan(name: String, startMs: Long, endMs: Long, op: Int): Unit =
    if (enabled) synchronized {
      spans += Span(nextId, name, startMs * 1000000L + epochOffsetNs,
        endMs * 1000000L + epochOffsetNs, -1, op)
      nextId += 1
    }

  def count: Int = synchronized(spans.size)
  def dropAfter(n: Int): Unit = synchronized(spans.dropRightInPlace(spans.size - n))

  /** Attaches each engine span to the innermost benchmark span of its
    * operation that was open when the job started. */
  private def resolved: Seq[Span] = synchronized {
    val byOp = spans.filter(_.parent >= 0).groupBy(_.op)
    spans.filter(_.parent < 0).foreach { e =>
      val open = byOp.getOrElse(e.op, Nil).filter(s => s.start <= e.start + 1000000L && e.start <= s.end)
      e.parent = if (open.isEmpty) 0 else open.minBy(s => s.end - s.start).id
    }
    spans.toSeq
  }

  /** Self time per layer: a span's duration minus the part of it that its
    * child spans cover. Returns (layer -> self seconds, root seconds). */
  def selfTimes(): (Map[String, Double], Double) = {
    val all = resolved
    val kids = all.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for (s <- all) {
      val cs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      for ((a, b) <- cs) {
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      self(s.layer) += (s.end - s.start - covered) / 1e9
    }
    (self.toMap, all.filter(_.parent == 0).map(s => (s.end - s.start) / 1e9).sum)
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    resolved.sortBy(_.start).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Per-operation engine counters, read from the events and plans of what
  * actually ran. */
final class OpStats {
  var jobs = 0
  var tasks = 0
  var taskNs = 0L
  var scanRows = 0L
  var splits = 0
  var bboxScans = 0
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Registered once per session: a SparkListener for jobs and tasks and a
  * QueryExecutionListener for the executed physical plan of each SQL
  * execution (scan output rows, split count, whether a bbox was pushed).
  * Events are attributed to [[Trace.currentOp]]; the runner drains the
  * listener bus before it moves to the next operation. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  val ops = new java.util.concurrent.ConcurrentHashMap[Int, OpStats]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  def stats(op: Int): OpStats = ops.computeIfAbsent(op, _ => new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    stats(Trace.currentOp).jobs += 1
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t => Trace.engineSpan("spark.job", t, e.time, Trace.currentOp))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stats(Trace.currentOp)
    s.tasks += 1
    s.taskNs += Option(e.taskMetrics).map(_.executorRunTime * 1000000L).getOrElse(0L)
    s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  private def scansOf(p: SparkPlan): Seq[BatchScanExec] = p match {
    case b: BatchScanExec => Seq(b)
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case other => other.children.flatMap(scansOf)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = stats(Trace.currentOp)
    for (b <- scansOf(qe.executedPlan)) {
      s.scanRows += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      s.splits += b.inputPartitions.size
      if (b.scan.description.contains("bbox=")) s.bboxScans += 1
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
