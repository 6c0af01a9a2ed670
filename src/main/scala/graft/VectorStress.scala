package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ml.{Pq, Similarity}

/** Vector-family stress at the LARGEST amplifiable factor — the
  * closing arm of the self-sizing story. The embeddings amplifier
  * rotates each copy's vectors, and rotation by `dim` aliases copy 0,
  * so factor ≤ dim = 64: ×64 (128k vectors) is the terminal scale the
  * fixtures support, matching the ×64 level the read/shuffle and write
  * paths are already cleared to.
  *
  * Every arm runs the ALL-DEFAULTS path — nBits, bands, nLists and
  * nProbe all self-sized from the corpus (`autoNBits`/`autoBands`/
  * `autoNLists`/`autoNProbe`) — because that is the configuration
  * whose scale behavior r10's verdict flagged as unproven: explicit
  * geometry is certificate-pinned at bench SF, but a default-parameter
  * caller at growing corpus size rides the sizing formulas alone.
  *
  * Recall is MEASURED against an in-run brute-force ground truth
  * (the vec_id<50 query slice × top-10), not asserted by formula: the
  * record shows what a default caller actually gets at 128k vectors.
  * The hard floors (IVF ≥ 0.25, IVF-PQ ≥ 0.2) are REGRESSION
  * TRIPWIRES, not quality claims — the measured default recall on
  * this rotation-amplified fixture is ~0.41 (neighbors scatter across
  * copies, so recall tracks the scanned fraction); the floors exist
  * so a sizing regression that zeroes recall still dies, while the
  * committed sweep records the real value. The calibrated arm below
  * is the quality path: it must reach its requested target.
  *
  * Usage (after `graft.Amplify <sf0.1> <dir> 64 embeddings`):
  *   SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=24g \
  *     sbt 'runMain graft.VectorStress <dir>'
  * Prints one JSON line: per-arm min-of-3 seconds, measured recalls,
  * keep-set sizes, CPU/IO sentinel pair.
  */
object VectorStress {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/tmp/graft_stress64v"
    val spark = Harness.session()

    // The amplified fixture is ONE ~65MB parquet file → one input
    // split → every map-only pass serializes on a single task. A real
    // 128k-vector corpus arrives in many splits; repartitioning here
    // (35ms, one 65MB shuffle) separates operator scaling — what this
    // stress measures — from single-file read parallelism, which is a
    // fixture artifact.
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
      .repartition(Harness.cpus)
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 50) // copy 0 keeps base ids
    val nQueries = queries.count() // measured, not assumed — a different
    // fixture's vec_id space may not yield exactly 50 rows
    System.err.println(s"[vector] corpus $n vectors, $nQueries queries")

    // each arm named once: timed by Harness.trial, its recall measured
    def brute() = Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10)
    def ivf(nProbe: Int = 0) = Similarity.ivfTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding",
      k = 10, nProbe = nProbe)
    def ivfPq(residual: Boolean) = Pq.ivfPqTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding",
      k = 10, m = 16, pqK = 64, rerank = 50, residual = residual)
    def timed(arm: => DataFrame): (Double, Long) =
      Harness.trial(spark)(arm.count()) // count forces the full plan

    // r14 (verdict #2): INTER-ARM drain — the r13 suite ran the ~55 s
    // calibrated-PQ arm (sustained shuffle/spill pressure) straight
    // into embed_dedup on a host documented to burst-throttle
    // (SCALING.md, memory note), and embed_dedup read 25.4 s vs the
    // r12-committed 18.9 with a git-diff-identical call path. Gate
    // each arm on the IO probe returning to the clean band (≤ 0.033;
    // committed band 0.018–0.030) so a reading is attributable to the
    // OPERATOR, not to its predecessor's tail. Bounded: 180 s per arm.
    def drain(label: String): Unit = {
      val (spent, io) = Harness.drainIo(0.033, 180)
      if (spent > 0)
        System.err.println(f"[vector] drain before $label: ${spent}s (io now $io%.3f)")
    }

    val (record, sentinelJson) = Harness.bracketed {
      // ground truth once, untimed (the brute-force arm is timed below
      // as the baseline): ~500 (query, neighbour) pairs held on the
      // driver, where no cache reset between trials can drop them
      val truthRows = brute().select(col("query_id"), col("nn_id")).collect()
      val truth = truthRows.map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(rows: Array[Row]): Double =
        rows.count(r => truth((r.getLong(0), r.getLong(1)))).toDouble / truthRows.length
      def recallOfArm(arm: DataFrame): Double =
        recallOf(arm.select(col("query_id"), col("nn_id")).collect())

      val (tBrute, _) = timed(brute())

      drain("ann_ivf")
      val (tIvf, _) = timed(ivf())
      val rIvf = recallOfArm(ivf())
      // recall-vs-probe sweep at the auto list count: distinguishes "the
      // √nLists probe heuristic under-probes" (recall jumps superlinearly
      // with nProbe) from "the corpus is near-unclusterable at this
      // similarity floor" (recall ~ scanned fraction, no cheap fix)
      val autoLists = Similarity.autoNLists(n)
      val autoProbe = Similarity.autoNProbe(autoLists)
      val rIvf2 = recallOfArm(ivf(2 * autoProbe))
      val rIvf4 = recallOfArm(ivf(4 * autoProbe))

      // CALIBRATED arm (r12): the engineered answer to the 0.41 default
      // reading — ivfTopKCalibrated measures recall on a 20-query sample
      // in-job and escalates nProbe ×2 (capped at 16× the start) until
      // the 0.7 target holds. One run, wall-clock recorded (the cost IS
      // the finding: on this hostile fixture the calibration must buy
      // most of a brute-force scan to hold 0.7 — that price should be
      // visible, not hidden); recall below is re-measured on the FULL
      // query truth, so the floor carries sampling slack vs the in-job
      // sample.
      drain("ann_ivf_cal")
      val (tCal, calRows) = Harness.timed(Similarity.ivfTopKCalibrated(
          emb, "vec_id", "embedding", queries, "vec_id", "embedding",
          k = 10, targetRecall = 0.7)
        .select(col("query_id"), col("nn_id"), col("measured_recall"),
          col("calibrated_nprobe")).collect())
      val rCal = recallOf(calRows)
      val calProbe = if (calRows.nonEmpty) calRows.head.getInt(3) else -1
      val calSampled = if (calRows.nonEmpty) calRows.head.getDouble(2) else -1.0

      // RAW-codebook arm (r13 semantics, residual=false): the structural
      // baseline the r14 residual default is measured against on the
      // exact fixture that exposed it (default recall 0.354 vs the IVF
      // candidate-set ceiling 0.408 at the same autoNProbe)
      drain("ann_ivf_pq_raw")
      val (tPqRaw, _) = timed(ivfPq(residual = false))
      val rPqRaw = recallOfArm(ivfPq(residual = false))

      // r14 DEFAULT arm: residual (IVFADC) codes. Probe loss bounds this
      // from above at the plain-IVF reading (same candidates, same
      // nProbe); the residual claim is that ADC misranking inside the
      // candidate set — the raw arm's gap below the IVF ceiling —
      // closes.
      drain("ann_ivf_pq")
      val (tPq, _) = timed(ivfPq(residual = true))
      val rPq = recallOfArm(ivfPq(residual = true))

      // CALIBRATED PQ arm (r13): the two-knob answer to the 0.354
      // default reading — ivfPqTopKCalibrated escalates nProbe ×2 while
      // probe doublings keep moving sampled recall and doubles the exact
      // re-rank depth when they plateau (ADC error binds). One timed run
      // including its in-job ground truth + escalation (the cost IS the
      // operator, as with the IVF calibrated arm); recall re-measured on
      // the FULL query truth.
      drain("ann_ivf_pq_cal")
      val (tPqCal, pqCalRows) = Harness.timed(Pq.ivfPqTopKCalibrated(
          emb, "vec_id", "embedding", queries, "vec_id", "embedding",
          k = 10, targetRecall = 0.7, m = 16, pqK = 64)
        .select(col("query_id"), col("nn_id"), col("measured_recall"),
          col("calibrated_nprobe"), col("calibrated_rerank")).collect())
      val rPqCal = recallOf(pqCalRows)
      val pqCalProbe = if (pqCalRows.nonEmpty) pqCalRows.head.getInt(3) else -1
      val pqCalRerank = if (pqCalRows.nonEmpty) pqCalRows.head.getInt(4) else -1
      val pqCalSampled = if (pqCalRows.nonEmpty) pqCalRows.head.getDouble(2) else -1.0

      // threshold 0.7, NOT the bench suite's 0.45: at 128k vectors the
      // auto geometry PRICED OUT 0.45 — autoBands raised ("522 bands >
      // 256 cap": p^nBits = 0.013 is beyond cheap OR-amplification) —
      // which is the designed behavior for LSH-hostile thresholds, and
      // is itself a finding this stress records. 0.7 is the regime
      // banded LSH is built for (near-dup, p = 0.75).
      drain("embed_dedup")
      val (tEmbDedup, keepEmb) = timed(graft.ml.Dedup.embeddingDedup(
        emb, "vec_id", "embedding", threshold = 0.7))

      drain("semantic_dedup")
      val (tSem, keepSem) = timed(graft.ml.Dedup.semanticDedup(
        emb, "vec_id", "embedding", threshold = 0.45))

      // REGRESSION floors pinned NEAR the measured default values (r12
      // ADVICE: floors at 0.25/0.2 let a 0.41→0.26 regression pass
      // silently): IVF defaults measured 0.41 on this fixture, PQ
      // (explicit m=16/pqK=64 + rerank 50 here) measured ~0.41 too — the
      // floors sit one meaningful-regression notch under those readings,
      // so a real default-path decay fails the run instead of only
      // recording decay in the sweep JSON
      require(rIvf >= 0.35, f"IVF default-path recall regressed at n=$n: $rIvf%.3f (measured 0.408)")
      require(rPqRaw >= 0.3, f"raw-codebook IVF-PQ recall regressed at n=$n: $rPqRaw%.3f (measured 0.354)")
      // the residual default must sit at (or within tie-noise of) the
      // plain-IVF candidate ceiling at the same geometry — the IVFADC
      // structural claim this fixture was built to test
      require(rPq >= 0.35, f"residual IVF-PQ recall regressed at n=$n: $rPq%.3f (ceiling = IVF $rIvf%.3f)")
      // the calibrated paths are QUALITY claims, not tripwires: they must
      // actually reach the 0.7 target here (floors = sampling slack
      // between the 20-query in-job sample and the full 50-query truth;
      // PQ gets one extra notch for ADC-tie variance at the short-list
      // boundary)
      require(rCal >= 0.65,
        f"calibrated IVF recall missed target at n=$n: $rCal%.3f (sampled $calSampled%.3f, nProbe=$calProbe)")
      require(rPqCal >= 0.6,
        f"calibrated IVF-PQ recall missed target at n=$n: $rPqCal%.3f " +
          f"(sampled $pqCalSampled%.3f, nProbe=$pqCalProbe, rerank=$pqCalRerank)")

      f"""{"metric":"vector_stress","corpus":$n,"queries":$nQueries,"k":10,""" +
        f""""arms":{"ann_brute":$tBrute%.3f,"ann_ivf":$tIvf%.3f,"ann_ivf_cal":$tCal%.3f,"ann_ivf_pq_raw":$tPqRaw%.3f,"ann_ivf_pq":$tPq%.3f,"ann_ivf_pq_cal":$tPqCal%.3f,""" +
        f""""embed_dedup":$tEmbDedup%.3f,"semantic_dedup":$tSem%.3f},""" +
        f""""recall":{"ivf":$rIvf%.3f,"ivf_2x_probe":$rIvf2%.3f,"ivf_4x_probe":$rIvf4%.3f,"ivf_cal":$rCal%.3f,"ivf_cal_sampled":$calSampled%.3f,"ivf_pq_raw":$rPqRaw%.3f,"ivf_pq":$rPq%.3f,"ivf_pq_cal":$rPqCal%.3f,"ivf_pq_cal_sampled":$pqCalSampled%.3f},""" +
        f""""geometry":{"auto_nlists":$autoLists,"auto_nprobe":$autoProbe,"cal_nprobe":$calProbe,"pq_cal_nprobe":$pqCalProbe,"pq_cal_rerank":$pqCalRerank},""" +
        f""""keeps":{"embed_dedup":$keepEmb,"semantic_dedup":$keepSem},"""
    }
    println(record + sentinelJson + "}")
    spark.stop()
  }
}
