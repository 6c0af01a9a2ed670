package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a module, as seen from the benchmark. Times are
  * System.nanoTime; `parent` is 0 at the top of an op. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      start: Long, end: Long)

/** Engine-side counts for one job, filled in by the listener. */
final class JobRec(val jobId: Int, val op: Int, val span: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages: Seq[Int] = Nil
}

/** Task totals for one stage. */
final class StageRec {
  var tasks = 0L
  var failedTasks = 0L
  var runNs = 0L      // executorRunTime, ms → ns
  var cpuNs = 0L      // executorCpuTime
  var schedNs = 0L    // duration − run − (de)serialization − result fetch
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
}

/** Driver-side plan facts of one executed query. */
final class QueryRec(val op: Int) {
  var planNs = 0L
  var exchanges = 0
  var broadcastBytes = 0L
  var scanNs = 0L
  var scanBytes = 0L
}

/** Spans around every call the benchmark makes into a module, plus the
  * engine's own job/stage/task and query events. All of it is kept in
  * memory and written out when the run ends. With tracing off, `span`
  * runs its body and records nothing, and the listeners ignore events. */
object Trace {
  @volatile var enabled = false
  @volatile var currentOp = -1

  private val PropOp = "perfbench.op"
  private val PropSpan = "perfbench.span"

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var sc: SparkContext = _

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stageRecs = new ConcurrentHashMap[Int, StageRec]()
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()
  /** Rows the traced kernel checksums evaluated. */
  var kernelRows = 0L

  def install(context: SparkContext, session: org.apache.spark.sql.SparkSession): Unit = {
    sc = context
    sc.addSparkListener(Engine)
    session.listenerManager.register(Queries)
  }

  def beginOp(op: Int): Unit = {
    currentOp = op
    if (sc != null) sc.setLocalProperty(PropOp, op.toString)
  }

  /** Waits until the engine has delivered every event of the ops so far. */
  def drain(): Unit = if (sc != null) org.apache.spark.perfbench.BusDrain.drain(sc)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(PropSpan, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(PropSpan, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, currentOp, layer, name, t0, t1)
      }
    }

  private object Engine extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).map(_.toInt)
      val r = new JobRec(e.jobId, prop(PropOp).getOrElse(-1), prop(PropSpan).getOrElse(0),
        e.time)
      r.stages = e.stageIds
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, r)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val r = jobs.get(e.jobId)
      if (r != null) r.endMs = e.time
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled && stageJob.containsKey(e.stageId)) {
        val s = stageRecs.computeIfAbsent(e.stageId, _ => new StageRec)
        s.synchronized {
          s.tasks += 1
          if (e.reason != Success) s.failedTasks += 1
          val m = e.taskMetrics
          val info = e.taskInfo
          if (m != null) {
            s.runNs += m.executorRunTime * 1000000L
            s.cpuNs += m.executorCpuTime
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            s.bytesWritten += m.outputMetrics.bytesWritten
            s.recordsWritten += m.outputMetrics.recordsWritten
            if (info != null && info.finishTime > 0) {
              val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
                m.resultSerializationTime - info.gettingResultTime
              s.schedNs += math.max(0L, sched) * 1000000L
            }
          }
        }
      }
  }

  private object Queries extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (enabled) record(qe)

    private def record(qe: QueryExecution): Unit = {
      val q = new QueryRec(currentOp)
      q.planNs = qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
      walk(qe.executedPlan) {
        case e: ShuffleExchangeLike =>
          q.exchanges += 1
        case b: BroadcastExchangeLike =>
          q.exchanges += 1
          q.broadcastBytes += metric(b, "dataSize")
        case s: FileSourceScanExec =>
          q.scanNs += metric(s, "scanTime") * 1000000L
          q.scanBytes += metric(s, "filesSize")
        case _ =>
      }
      queries.add(q)
    }

    private def metric(p: SparkPlan, name: String): Long =
      p.metrics.get(name).map(_.value).getOrElse(0L)

    private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
      f(p)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
        case s: QueryStageExec => walk(s.plan)(f)
        case _ =>
      }
      p.children.foreach(walk(_)(f))
      p.subqueries.foreach(walk(_)(f))
    }
  }

  // --- JVM -----------------------------------------------------------

  def gcNs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum * 1000000L

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakBytes(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssBytes(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong * 1024L
    }.getOrElse(0L)
    finally src.close()
  }
}
