package graft

import org.apache.spark.sql.SparkSession

/** The measurement protocol the dev mains share (Bench, Micro,
  * PlanDump, Amplify, SkewStress, VectorStress, StreamBench): one
  * session built from the environment, one trial loop, the contention
  * sentinels and the IO drain. `Verify` (the correctness contract) and
  * `Demo` keep their own sessions.
  *
  * Environment: `SPARK_GRAFT_CPUS` (default 32) is the local master's
  * thread count and the session's shuffle partition count. */
object Harness {

  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The dev mains' session. The JVM default locale is pinned to ROOT
    * first: the mains build their JSON with f"" interpolators, which are
    * locale-sensitive — a comma-decimal default locale would emit invalid
    * JSON ("value":1,234). */
  def session(logLevel: String = "WARN"): SparkSession = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    GraftSession.setLogLevel(spark, logLevel)
    spark
  }

  /** Wall seconds of one evaluation of `f`, with its result. */
  def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** The reset between measurements. Library persists (minhash
    * signatures, LSH keys) would otherwise pile up across a suite AND
    * let one measurement's cached plan silently subsidize a later one
    * that builds the identical sub-plan. clearCache alone leaves dead
    * shuffle state behind — Spark's ContextCleaner only reaps it when
    * the owning objects are GC'd, and a 24g heap may not GC for
    * minutes, so earlier debris (cleaner thread churn, shuffle-file
    * pressure) bleeds into later measurements (observed: q_dedup_cc
    * min-of-3 swinging 1.3→3.9 s run to run). The forced GC starts
    * every measurement from the same reclaimed state. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** The trial protocol: one warm-up run (JIT, codegen cache, parquet
    * footers), reset, the MIN of 3 measured runs — a one-off JIT/GC
    * pause in a single run cannot fabricate a 10x reading — then reset,
    * so the next measurement starts clean. Returns the min seconds and
    * the last run's result. `measuring` runs after the warm-up's reset,
    * just before the first measured run. */
  def trial[A](spark: SparkSession, measuring: () => Unit = () => ())
              (f: => A): (Double, A) = {
    f
    reset(spark)
    measuring()
    val runs = (1 to 3).map(_ => timed(f))
    reset(spark)
    (runs.map(_._1).min, runs.last._2)
  }

  // --- contention sentinel -------------------------------------------
  // Three straight rounds of driver-host perf records needed
  // out-of-band rescue (r6 noise, r7 unparseable, r8 fully contended):
  // min-of-3 silently launders a contended window into an
  // authoritative number, and nothing IN the record let a reader
  // detect it. Fix: immediately before each query's trial set, time a
  // fixed SINGLE-THREADED CPU loop (FNV-1a over a fixed 64 MiB
  // pseudorandom buffer — pure ALU + L1-stream work, no allocation, no
  // syscalls). On an idle host the reading is stable (clean value
  // committed in SCALING.md §sentinel); under host contention the OS
  // steals time from this thread like any other and the reading
  // inflates proportionally. Any bench number can then be mechanically
  // classified: sentinel ≈ clean → trust the trial; sentinel ≫ clean →
  // the window was contended and the trial is a ceiling, not a
  // measurement. Lazy: only a main that probes pays the 64 MiB.
  private lazy val sentinelBuf: Array[Byte] = {
    val b = new Array[Byte](64 << 20)
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < b.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      b(i) = x.toByte
      i += 1
    }
    b
  }
  @volatile private var sentinelSink: Long = 0L // defeats DCE of the loop

  private[graft] def sentinel(): Double = {
    val buf = sentinelBuf // built on the first probe, outside the timing
    val t0 = System.nanoTime()
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < buf.length) {
      h ^= buf(i); h *= 0x100000001B3L
      i += 1
    }
    sentinelSink = h
    (System.nanoTime() - t0) / 1e9
  }

  // The CPU sentinel alone proved insufficient on its FIRST outing:
  // an r9 3-SF sweep showed the suite's tail degrading 2-5x (write-
  // heavy entries worst, early entries untouched, isolated reruns
  // clean) while every CPU sentinel read 0.086-0.090 s — the
  // signature of virtual-disk write throttling (burst-credit
  // exhaustion under sustained benchmark writes), an axis a pure
  // ALU loop cannot see. This probe times writing 8 MiB + fsync to
  // the same /tmp the export entries write; clean value committed
  // next to the CPU sentinel's in SCALING.md.
  private[graft] def sentinelIo(): Double = {
    val f = java.io.File.createTempFile("graft_bench_iosentinel", ".bin")
    try {
      val chunk = java.util.Arrays.copyOf(sentinelBuf, 1 << 20) // 1 MiB
      val t0 = System.nanoTime()
      val out = new java.io.FileOutputStream(f)
      try {
        var i = 0
        while (i < 8) { out.write(chunk); i += 1 }
        out.getFD.sync()
      } finally out.close()
      (System.nanoTime() - t0) / 1e9
    } finally { f.delete(); () }
  }

  /** r13: a fixed-size SHUFFLE probe — the normalizer axis the CPU/IO
    * pair cannot see. The r12 sf0.1 common-set drifted +9% in queries
    * no diff touched while every CPU sentinel read clean: a day-long
    * throttle that taxes scheduling/shuffle uniformly sits INSIDE the
    * pure-ALU and 8-MiB-fsync bands. This probe times a fixed
    * 4M-row × 32-partition hash-aggregate through the same noop sink
    * the bench entries use — scheduler latency, shuffle write+read,
    * codegen'd agg, all on a constant workload. Min-of-3 (same
    * rationale as the trial protocol); clean band committed in
    * SCALING.md §sentinel. A drifted RECORD under a clean shuffle
    * probe implicates code; a drifted probe adjudicates the tax as
    * host-side and scales the reading. */
  private[graft] def sentinelShuffle(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 4L * 1000 * 1000, 1L, 32)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Run `body` between a CPU/IO probe pair (the probes' JIT and fd
    * paths warmed first) and return its result with the record's
    * `"sentinel"` member: both probes before and after. */
  def bracketed[A](body: => A): (A, String) = {
    sentinel(); sentinelIo()
    val (cpuPre, ioPre) = (sentinel(), sentinelIo())
    val a = body
    val (cpuPost, ioPost) = (sentinel(), sentinelIo())
    (a, f""""sentinel":{"cpu_pre":$cpuPre%.3f,"io_pre":$ioPre%.3f,""" +
      f""""cpu_post":$cpuPost%.3f,"io_post":$ioPost%.3f}""")
  }

  /** Wait for a write burst's throttle to pass: sleep in 15-s steps
    * until the IO probe, starting from the reading `io`, is under
    * `limit`, for at most `maxSec`. Returns the seconds slept and the
    * last reading. */
  def drainIo(limit: Double, maxSec: Int, io: Double = sentinelIo()): (Int, Double) = {
    var last = io
    var spent = 0
    while (last >= limit && spent < maxSec) {
      Thread.sleep(15000L); spent += 15
      last = sentinelIo()
    }
    (spent, last)
  }
}
