package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: a public call into one graft layer, or the whole
  * operation (layer "op"). Spans of one operation share `op`. */
final case class Span(id: Int, op: Int, parent: Int, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What one traced operation did, as Spark reported it. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, outputBytes = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  val jobStarts = mutable.Map.empty[Int, Long]
  val stageTaskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]
  var analysisMs, optimizationMs, planningMs = 0.0
  var actions = 0L
  var rowsScanned, rowsIntoAgg = 0L
  var maxFilesPerScan = 0L
  var opId = -1
  /** Per action: (function, rows scanned, rows into partial aggregates). */
  val actionLog = ArrayBuffer.empty[(String, Long, Long)]

  /** Wall time covered by at least one job (intervals may overlap). */
  def jobWallMs: Double = {
    val sorted = jobIntervals.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    for ((s, e) <- sorted) {
      if (curE < 0 || s > curE) {
        if (curE >= 0) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total.toDouble
  }

  /** max/median task time of the stage with the most task time. */
  def taskSkew: Double = {
    val heavy = stageTaskMs.values.filter(_.nonEmpty).maxByOption(_.sum)
    heavy match {
      case Some(ts) if ts.size >= 2 =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (med <= 0) 1.0 else ts.max / med
      case _ => 1.0
    }
  }
}

/** Listener pair the traced run installs around a traced operation only:
  * a `SparkListener` for jobs/stages/tasks and a `QueryExecutionListener`
  * for `QueryPlanningTracker` phases and the executed plan's scan and
  * aggregate row counts. */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var cur = new OpCounters

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val c = cur
    c.jobs += 1
    c.jobStarts.remove(e.jobId).foreach(s => c.jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = cur
    c.stages += 1
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = cur
    c.tasks += 1
    if (e.taskInfo != null)
      c.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) +=
        e.taskInfo.duration
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val c = cur
    c.actions += 1
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    c.analysisMs += ms("analysis")
    c.optimizationMs += ms("optimization")
    c.planningMs += ms("planning")
    val (scanned0, agg0) = (c.rowsScanned, c.rowsIntoAgg)
    walk(qe.executedPlan, c)
    c.actionLog += ((funcName, c.rowsScanned - scanned0, c.rowsIntoAgg - agg0))
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case other => other
  }

  private def children(p: SparkPlan): Seq[SparkPlan] =
    (p.children ++ p.subqueries).map(unwrap)

  /** First node at or below `p` that counts its output rows. */
  private def rowsOut(p: SparkPlan): Long =
    if (p.metrics.contains("numOutputRows")) metric(p, "numOutputRows")
    else children(p).headOption.map(rowsOut).getOrElse(0L)

  private def walk(p0: SparkPlan, c: OpCounters): Unit = {
    val p = unwrap(p0)
    p match {
      case agg: BaseAggregateExec
          if agg.aggregateExpressions.nonEmpty &&
            agg.aggregateExpressions.forall(_.mode == Partial) =>
        c.rowsIntoAgg += children(agg).map(rowsOut).sum
      case _ =>
    }
    if (p.nodeName.startsWith("Scan parquet") ||
        p.getClass.getSimpleName == "FileSourceScanExec") {
      c.rowsScanned += metric(p, "numOutputRows")
      c.maxFilesPerScan = math.max(c.maxFilesPerScan, metric(p, "numFiles"))
    }
    children(p).foreach(walk(_, c))
  }
}

/** Spans and per-operation counters for the traced run. Held in memory
  * and written once, when the run ends. */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var op = -1
  var on = false
  private val probe = new Probe

  def span[A](layer: String, name: String)(f: => A): A =
    if (!on) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, op, parent, layer, name, System.nanoTime(), 0L)
      stack.push(id)
      try f
      finally {
        stack.pop()
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Run one traced operation: listeners on, spans on, staged-block and
    * heap peaks polled; returns the result and what Spark reported. */
  def traced[A](opId: Int, name: String)(f: => A): (A, OpCounters, OpMemory) = {
    val sc = spark.sparkContext
    org.apache.spark.perfbench.BusShim.drain(sc)
    probe.cur = new OpCounters
    probe.cur.opId = opId
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq
    pools.foreach(_.resetPeakUsage())
    val poller = new StagedPoller(sc)
    poller.start()
    op = opId
    on = true
    val out = try span("op", name)(f) finally {
      on = false
      poller.finish()
    }
    org.apache.spark.perfbench.BusShim.drain(sc)
    sc.removeSparkListener(probe)
    spark.listenerManager.unregister(probe)
    val heapPeak = pools.map(_.getPeakUsage.getUsed).sum
    val held = sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    (out, probe.cur, OpMemory(held, poller.peakBytes, heapPeak))
  }

  /** Spans on, without listeners, for calls timed in isolation after the
    * loop (kernels, operators); they form operation `opId`. */
  def isolated[A](opId: Int, name: String)(f: => A): A = {
    op = opId
    on = true
    try span("op", name)(f) finally on = false
  }

  /** Self time per layer: each span's duration minus its children's. */
  def selfTimeMs: Map[String, Double] = {
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.ms - childMs(s.id)).sum
    }
  }
}

final case class OpMemory(blocksHeld: Long, stagedPeakBytes: Long,
    heapPeakBytes: Long)

/** Samples the bytes of cached/checkpointed RDD blocks while an operation
  * runs, keeping the peak. */
final class StagedPoller(sc: org.apache.spark.SparkContext) extends Thread {
  setDaemon(true)
  @volatile private var done = false
  @volatile var peakBytes = 0L
  private def sample(): Unit = {
    val b = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    if (b > peakBytes) peakBytes = b
  }
  override def run(): Unit =
    while (!done) {
      try sample() catch { case _: Exception => () }
      Thread.sleep(20)
    }
  def finish(): Unit = {
    done = true
    join()
    try sample() catch { case _: Exception => () }
  }
}
