package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A traced op: its trace id (the op id its spans and jobs carry),
  * latency and wall-clock window. */
final case class OpWindow(id: Int, latNs: Long, startMs: Long, endMs: Long)

/** Per-layer metrics derived from the spans and the engine's events of
  * the traced ops. Times are seconds per traced op unless the name says
  * otherwise; "per call" metrics average over the calls of that span. */
object Layers {

  val SpanLayers = Seq("sources", "core", "functions", "text", "ml", "operators", "engine")

  def metrics(ops: Seq[OpWindow], gcNs: Map[Int, Long], recalls: Map[String, Seq[Double]],
              cores: Int): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val opIds = ops.map(_.id).toSet
    val spans = Trace.spans.toSeq
    val opSpans = spans.filter(s => opIds(s.op))
    val children = spans.groupBy(_.parent)
    def dur(s: Span) = (s.end - s.start) / 1e9
    def self(s: Span) = dur(s) - children.getOrElse(s.id, Nil).filter(_.op == s.op).map(dur).sum
    def perCall(layer: String, name: String, pool: Seq[Span] = opSpans): Double = {
      val xs = pool.filter(s => s.layer == layer && s.name == name)
      if (xs.isEmpty) 0.0 else xs.map(dur).sum / xs.size
    }
    // span → every span beneath it, for jobs started anywhere inside
    def subtree(root: Span): Set[Int] = {
      val out = mutable.Set(root.id)
      var frontier = Seq(root.id)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(p => children.getOrElse(p, Nil).map(_.id))
        out ++= frontier
      }
      out.toSet
    }

    val jobs = Trace.jobs.values.asScala.toSeq
    val opJobs = jobs.filter(j => opIds(j.op))
    def jobsUnder(layer: String, name: String): Double = {
      val roots = opSpans.filter(s => s.layer == layer && s.name == name)
      if (roots.isEmpty) 0.0
      else roots.map { r =>
        val ids = subtree(r)
        opJobs.count(j => j.op == r.op && ids(j.span))
      }.sum.toDouble / roots.size
    }
    val stagesOf = opJobs.flatMap(j => j.stages.map(_ -> j)).toMap
    val stageRecs = Trace.stageRecs.asScala.toSeq.filter { case (s, _) => stagesOf.contains(s) }
    def stageSum(f: StageRec => Long): Long = stageRecs.map { case (_, r) => f(r) }.sum
    val queries = Trace.queries.asScala.toSeq.filter(q => opIds(q.op))

    // driver idle: op wall time not covered by any running job
    val idle = ops.map { o =>
      val iv = opJobs.filter(_.op == o.id).map(j =>
        (math.max(j.startMs, o.startMs), math.min(if (j.endMs < 0) o.endMs else j.endMs, o.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (-1L, -1L)
      iv.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      math.max(0L, (o.endMs - o.startMs) - covered) / 1000.0
    }.sum

    val wallS = ops.map(_.latNs).sum / 1e9
    val runS = stageSum(_.runNs) / 1e9
    val writeJobs = opSpans.filter(s => s.layer == "sources" && s.name.startsWith("write"))
      .flatMap { r => val ids = subtree(r); opJobs.filter(j => j.op == r.op && ids(j.span)) }
    val writeStages = writeJobs.flatMap(_.stages).toSet
    val written = stageRecs.filter { case (s, _) => writeStages(s) }.map(_._2)
    val bytesW = written.map(_.bytesWritten).sum
    val recsW = written.map(_.recordsWritten).sum
    val kernelSpans = spans.filter(s => s.layer == "functions")

    val m = mutable.LinkedHashMap[String, Double]()
    m("trace.ops") = ops.size
    // the kernels are called directly only by the traced checksum, which
    // runs outside the ops; its spans count towards `functions`
    SpanLayers.foreach { l =>
      m(s"$l.self_s") = (opSpans ++ kernelSpans).filter(_.layer == l).map(self).sum / n
    }
    m("core.verb_s") = opSpans.filter(_.layer == "core").map(dur).sum / n
    m("core.verb_calls") = opSpans.count(_.layer == "core") / n
    m("core.window_s") = perCall("core", "window")
    m("engine.plan_s") = queries.map(_.planNs).sum / 1e9 / n
    m("engine.jobs_per_op") = opJobs.size / n
    m("engine.stages_per_op") = stagesOf.size / n
    m("engine.tasks_per_op") = stageSum(_.tasks) / n
    m("engine.exchanges_per_op") = queries.map(_.exchanges).sum / n
    m("engine.sched_delay_s") = stageSum(_.schedNs) / 1e9 / n
    m("engine.driver_idle_s") = idle / n
    m("engine.executor_run_s") = runS / n
    m("engine.executor_cpu_s") = stageSum(_.cpuNs) / 1e9 / n
    m("engine.core_util") = if (wallS > 0) runS / (wallS * cores) else 0.0
    m("engine.shuffle_read_bytes") = stageSum(_.shuffleRead) / n
    m("engine.shuffle_write_bytes") = stageSum(_.shuffleWrite) / n
    m("engine.spill_bytes") = stageSum(_.spill) / n
    m("engine.broadcast_bytes") = queries.map(_.broadcastBytes).sum / n
    m("engine.failed_tasks") = stageSum(_.failedTasks).toDouble
    m("sources.scan_s") = queries.map(_.scanNs).sum / 1e9 / n
    m("sources.scan_bytes") = queries.map(_.scanBytes).sum / n
    m("sources.write_s") = Seq(perCall("sources", "writeShards"), perCall("sources", "writeZOrdered"))
      .filter(_ > 0).sum
    m("sources.write_bytes_per_row") = if (recsW > 0) bytesW.toDouble / recsW else 0.0
    m("operators.sessionize_s") = perCall("operators", "sessionStats")
    m("operators.range_join_s") = perCall("operators", "pointInInterval")
    m("text.clean_s") = perCall("text", "clean")
    m("text.bm25_s") = perCall("text", "bm25TopK")
    m("ml.dedup_s") = perCall("ml", "minhashDedup")
    m("ml.semdedup_s") = perCall("ml", "semanticDedup") + perCall("ml", "semanticCentroids")
    m("ml.cc_s") = perCall("ml", "connectedComponents")
    m("ml.cc_jobs") = jobsUnder("ml", "connectedComponents")
    m("ml.ann_build_s") = perCall("ml", "buildIvfPqIndex", spans)
    m("ml.ann_probe_s") = perCall("ml", "ivfPqTopKIndexed")
    m("ml.ann_cal_s") = perCall("ml", "ivfPqTopKCalibrated")
    m("ml.ann_cal_jobs") = jobsUnder("ml", "ivfPqTopKCalibrated")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    m("ml.ann_recall") = mean(recalls.getOrElse("ann", Nil))
    m("ml.ann_probe_recall") = mean(recalls.getOrElse("ann_probe", Nil))
    m("functions.kernel_rows_per_s") = {
      val t = kernelSpans.map(dur).sum
      if (t > 0) Trace.kernelRows.toDouble / t else 0.0
    }
    m("jvm.gc_s") = ops.map(o => gcNs.getOrElse(o.id, 0L)).sum / 1e9 / n
    m("jvm.heap_peak_mb") = Trace.heapPeakBytes() / (1024.0 * 1024.0)
    m.toMap
  }
}
