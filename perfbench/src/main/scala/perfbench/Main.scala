package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, warm up, then a closed loop with one
  * client for `--seconds`, each op ending in a collect. Writes the run
  * record (op latencies and results, CPU, memory and, when tracing, the
  * spans and per-layer metrics) as JSON to `--out`.
  *
  * Usage: Main --workload W --seed N --seconds T --trace 0|1 --work DIR --out FILE
  *             [--gen-only 1] */
object Main {

  final case class Exec(i: Int, unit: Int, op: Op, traced: Boolean, latNs: Long, startMs: Long,
                        endMs: Long, rowsIn: Long, outcome: Outcome, error: String)

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = new File(args("work")).getAbsolutePath
    val out = args("out")
    val genOnly = args.getOrElse("gen-only", "0") == "1"
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    graft.GraftSession.setLogLevel(spark, "WARN")
    if (trace) Trace.install(spark.sparkContext, spark)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus)
    try {
      val w = Workloads(workload, spark, seed, work)
      Checks.deleteTree(new File(w.inputs))
      val g0 = System.nanoTime()
      w.generate()
      record("gen_s") = (System.nanoTime() - g0) / 1e9
      record("input_rows") = w.inputRows
      record("op_sequence") = w.sequence(64).map(o => s"${o.kind}${o.params.toSeq.sorted.mkString("(", ",", ")")}")
      if (!genOnly) {
        if (trace) Trace.enabled = true
        Trace.beginOp(-2)
        val p0 = System.nanoTime()
        w.prepare()
        Trace.drain()
        Trace.enabled = false
        record("prepare_s") = (System.nanoTime() - p0) / 1e9

        val w0 = System.nanoTime()
        w.warmup().foreach { op =>
          val t0 = System.nanoTime()
          val res = w.run(op)
          System.err.println(f"[perfbench] warmup ${op.kind} ${(System.nanoTime() - t0) / 1e9}%.3f s")
          res.certify()
        }
        spark.catalog.clearCache()
        System.gc()
        record("warmup_s") = (System.nanoTime() - w0) / 1e9

        measure(spark, w, seconds, trace, record)
      }
    } finally {
      record("peak_rss_bytes") = Trace.peakRssBytes()
      new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(out), record)
      spark.stop()
    }
  }

  private def measure(spark: SparkSession, w: Workloads.Workload, seconds: Double, trace: Boolean,
                      record: mutable.Map[String, Any]): Unit = {
    val execs = mutable.ArrayBuffer.empty[Exec]
    var traceId = 0
    val gcPerOp = mutable.HashMap.empty[Int, Long]
    // wall and CPU time of the certificates, taken out of the measured phase
    var checkNs = 0L
    var checkCpuNs = 0L

    def exec(i: Int, unit: Int, op: Op, traced: Boolean): Exec = {
      if (traced) {
        traceId += 1
        Trace.beginOp(traceId)
        Trace.enabled = true
      } else Trace.beginOp(-1)
      val gc0 = Trace.gcNs()
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (res, err) =
        try (w.run(op), null)
        catch { case e: Throwable => (null, s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
      val t1 = System.nanoTime()
      val s1 = System.currentTimeMillis()
      if (traced) {
        // query events are attributed to the op current when they arrive
        Trace.drain()
        gcPerOp(traceId) = Trace.gcNs() - gc0
        Trace.beginOp(-3)
        w.afterTraced(op)
        Trace.drain()
        Trace.enabled = false
      }
      Trace.beginOp(-1)
      val c0 = System.nanoTime()
      val cpu0 = Trace.processCpuNs()
      val outcome =
        if (res == null) null
        else try res.certify()
        catch { case e: Throwable =>
          Outcome(Nil, Nil, oracle = false, ok = false,
            note = s"certificate threw ${e.getClass.getName}: ${e.getMessage}".take(500))
        }
      checkCpuNs += Trace.processCpuNs() - cpu0
      checkNs += System.nanoTime() - c0
      System.err.println(f"[perfbench] op $i ${op.kind} traced=$traced ${(t1 - t0) / 1e9}%.3f s" +
        (if (err != null) s" error $err" else if (!outcome.ok) s" wrong ${outcome.note}" else ""))
      Exec(i, unit, op, traced, t1 - t0, s0, s1, if (res == null) 0L else res.rowsIn, outcome, err)
    }

    Trace.resetHeapPeak()
    val cpu0 = Trace.processCpuNs()
    val m0 = System.nanoTime()
    record("measure_start_ms") = System.currentTimeMillis()
    val budgetNs = (seconds * 1e9).toLong
    var i = 0
    var unit = -1
    val ops = w.sequence(1 << 14).iterator.buffered
    while (ops.hasNext && (System.nanoTime() - m0 - checkNs < budgetNs || !w.startsUnit(ops.head))) {
      val op = ops.next()
      if (w.startsUnit(op)) unit += 1
      if (trace) {
        // each op twice, tracing on for one of the two, in alternating
        // order: the difference is the tracing overhead
        if (i % 2 == 0) { execs += exec(i, unit, op, traced = false); execs += exec(i, unit, op, traced = true) }
        else { execs += exec(i, unit, op, traced = true); execs += exec(i, unit, op, traced = false) }
      } else execs += exec(i, unit, op, traced = false)
      i += 1
    }
    val m1 = System.nanoTime()
    val cpu1 = Trace.processCpuNs()
    w.finish()

    record("measured_s") = (m1 - m0 - checkNs) / 1e9
    record("cpu_s") = (cpu1 - cpu0 - checkCpuNs) / 1e9
    record("check_s") = checkNs / 1e9
    record("heap_peak_bytes") = Trace.heapPeakBytes()
    record("ops") = execs.map { e =>
      val o = e.outcome
      mutable.LinkedHashMap[String, Any](
        "i" -> e.i, "unit" -> e.unit, "kind" -> e.op.kind, "params" -> e.op.params,
        "traced" -> e.traced, "lat_s" -> e.latNs / 1e9, "rows_in" -> e.rowsIn,
        "error" -> e.error,
        "ok" -> (o != null && o.ok),
        "note" -> (if (o == null) "" else o.note),
        "recall" -> (if (o == null) None else o.recall),
        "oracle" -> (o != null && o.oracle),
        "cols" -> (if (o == null || !o.oracle) Nil else o.cols),
        "rows" -> (if (o == null || !o.oracle) Nil else o.rows.map(_.toSeq)))
    }
    if (trace) {
      val traced = execs.filter(_.traced)
      val recalls = traced.filter(e => e.outcome != null && e.outcome.recall.isDefined)
        .groupBy(_.op.kind).map { case (k, es) => k -> es.flatMap(_.outcome.recall).toSeq }
      // traced executions carry trace ids 1, 2, ... in order
      record("layers") = Layers.metrics(traced.zipWithIndex.map { case (e, j) =>
        OpWindow(j + 1, e.latNs, e.startMs, e.endMs) }.toSeq,
        gcPerOp.toMap, recalls, spark.sparkContext.defaultParallelism)
      val tSum = traced.map(_.latNs).sum.toDouble
      val uSum = execs.filterNot(_.traced).map(_.latNs).sum.toDouble
      record("trace_overhead_ratio") = if (uSum > 0) tSum / uSum - 1.0 else 0.0
      record("spans") = Trace.spans.map(s => Seq(s.id, s.parent, s.op, s.layer, s.name,
        (s.end - s.start) / 1e9))
    }
  }
}
