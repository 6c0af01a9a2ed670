package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming throughput harness — the perf artifact for the streaming
  * twins (their correctness is spec-pinned in StreamingSpec; this
  * main gives them a repeatable rows/s + state-size record, committed
  * to SCALING.md).
  *
  * Protocol: MemoryStream input, fixed row count fed in fixed-size
  * micro-batches (addData → processAllAvailable per batch, so each
  * add is one micro-batch — the scheduling overhead a real trigger
  * pays is IN the measurement), noop-style memory-free sink via
  * foreachBatch(count). Wall clock spans first batch to drain;
  * rows/s = rows / wall. State size read from the query's last
  * progress (stateOperators totals). One warmup run (10% of the
  * rows) precedes each measured run — JIT + state-store directory
  * setup are not the steady state a pipeline pays.
  *
  * Prints one JSON line per verb on stdout:
  *   {"stream":"signature_dedup","rows":N,"batches":B,
  *    "wall_sec":t,"rows_per_sec":r,"state_rows":s,"state_bytes":b}
  */
object StreamBench {

  private val Batches = 10

  /** One MemoryStream input: its schema and its rows for (batch index,
    * rows per batch). */
  private final case class Feed(schema: StructType, rows: (Int, Int) => Seq[Row])

  /** Runs `build` over one MemoryStream per feed. Each micro-batch adds
    * to EVERY feed, then drains — for the stream-stream verbs the
    * dual-watermark advancement is in the measurement, as a real
    * dual-source trigger pays it. `rows` is per feed; the record counts
    * the rows of all feeds. Checkpoints go under `ckpt`. */
  private def run(spark: SparkSession, ckpt: java.io.File, name: String,
                  rows: Int, feeds: Seq[Feed])
                 (build: Seq[DataFrame] => DataFrame): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}

    def once(nRows: Int, nBatches: Int, tag: String): (Double, Long, Long) = {
      val streams = feeds.map(f =>
        MemoryStream[Row](ExpressionEncoder(RowEncoder.encoderFor(f.schema)), spark.sqlContext))
      val sink = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = build(streams.map(_.toDF())).writeStream
        .outputMode(if (name == "hopping_counts") "update" else "append")
        .option("checkpointLocation", new java.io.File(ckpt, s"${name}_$tag").getPath)
        .foreachBatch { (b: DataFrame, _: Long) => sink.addAndGet(b.count()); () }
        .start()
      val per = nRows / nBatches
      val (wall, _) = Harness.timed((0 until nBatches).foreach { bi =>
        streams.zip(feeds).foreach { case (ms, f) => ms.addData(f.rows(bi, per)) }
        q.processAllAvailable()
      })
      val prog = q.lastProgress
      val (srows, sbytes) =
        if (prog != null && prog.stateOperators.nonEmpty)
          (prog.stateOperators.map(_.numRowsTotal).sum,
            prog.stateOperators.map(_.memoryUsedBytes).sum)
        else (0L, 0L)
      q.stop()
      (wall, srows, sbytes)
    }

    once(math.max(rows / 10, Batches), math.max(Batches / 4, 1), "warm")
    val (wall, srows, sbytes) = once(rows, Batches, "run")
    val total = feeds.size.toLong * rows
    println(f"""{"stream":"$name","rows":$total,"batches":$Batches,"wall_sec":$wall%.3f,"rows_per_sec":${total / wall}%.0f,"state_rows":$srows,"state_bytes":$sbytes}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // state-partition sizing: every stateful micro-batch pays one
    // state-store commit (delta file + sync) PER shuffle partition —
    // at 32 partitions the per-batch floor drowns the per-row cost on
    // a single node. 8 is the deployment-honest single-node setting
    // (state parallelism ~ cores doing real work per batch); a
    // cluster sizes this to executors, not to 200.
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_streambench").toFile
    try verbs(spark, sfDir, ckpt)
    finally {
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt)
      spark.stop()
    }
  }

  private def verbs(spark: SparkSession, sfDir: String, ckpt: java.io.File): Unit = {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

    // 1) signature dedup: 1M rows, 25% duplicate signatures, event
    //    time advancing ~1s per 100 rows (state = distinct sigs in
    //    the 2h watermark horizon)
    val sigSchema = StructType(Seq(
      StructField("id", LongType), StructField("sig", LongType),
      StructField("ts", TimestampType)))
    run(spark, ckpt, "signature_dedup", 1000000, Seq(Feed(sigSchema,
      (bi, per) => (0 until per).map { i =>
        val gid = bi.toLong * per + i
        Row(gid, gid % (per * 3L / 4 + 1) + bi.toLong * per, // 25% intra-batch dups
          new java.sql.Timestamp(base.getTime + gid * 10))
      })))(dfs => graft.streaming.StreamVerbs.streamingSignatureDedup(dfs.head, "sig", "ts"))

    // 2) hopping counts: 1M events over ~28 simulated hours, 1h
    //    window / 15m slide / 2h lateness, 5 event types (each row
    //    lands in 4 windows; state = open windows x types)
    val evSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    run(spark, ckpt, "hopping_counts", 1000000, Seq(Feed(evSchema,
      (bi, per) => (0 until per).map { i =>
        val gid = bi.toLong * per + i
        Row(new java.sql.Timestamp(base.getTime + gid * 100), // 100ms apart
          s"type${gid % 5}", (gid % 97).toDouble)
      })))(dfs => graft.streaming.StreamVerbs.hoppingCounts(dfs.head))

    // 3) quality filter: NB model batch-trained on the sf documents
    //    (lang==en as the positive class — same shape as the
    //    StreamingSpec), then 200k streamed docs scored statelessly
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val model = graft.text.Classifier.compileNb(
      docs, "text", col("lang") === "en")
    val texts = docs.select("text").limit(2000).collect().map(_.getString(0))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    run(spark, ckpt, "quality_filter", 200000, Seq(Feed(docSchema,
      (bi, per) => (0 until per).map { i =>
        val gid = bi.toLong * per + i
        Row(gid, texts((gid % texts.length).toInt))
      })))(dfs => graft.streaming.StreamVerbs.streamQualityFilter(dfs.head, "text", model))

    // --- r11: the three stateful twins the differential fuzzer added ---

    // 4) streaming top-k: 1M rows, Zipf-ish key draw (square of a
    //    uniform — low ids dominate, the trending-keys shape), 1h
    //    windows over ~28 simulated hours; state = one mergeable
    //    Misra–Gries sketch row per open window
    val keySchema = StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType)))
    run(spark, ckpt, "streaming_topk", 1000000, Seq(Feed(keySchema,
      (bi, per) => (0 until per).map { i =>
        val gid = bi.toLong * per + i
        val u = (gid * 2654435761L) % 1000
        Row(s"k${(u * u) / 10000}", // ~100-key domain, low keys hot
          new java.sql.Timestamp(base.getTime + gid * 100))
      })))(dfs => graft.streaming.StreamVerbs.streamingTopK(dfs.head, "k", "ts"))

    // 5) key-based streaming dedup: 1M rows, 25% duplicate (key, ts)
    //    pairs within each batch; state = distinct pairs in the 2h
    //    horizon
    val kvSchema = StructType(Seq(
      StructField("k1", LongType), StructField("ts", TimestampType)))
    run(spark, ckpt, "streaming_dedup", 1000000, Seq(Feed(kvSchema,
      (bi, per) => (0 until per).map { i =>
        val gid = bi.toLong * per + i
        val k = gid % (per * 3L / 4 + 1) + bi.toLong * per
        Row(k, new java.sql.Timestamp(base.getTime + k * 10))
      })))(dfs => graft.streaming.StreamVerbs.streamingDedup(dfs.head, Seq("k1")))

    // 6) stream-stream interval join: 500k rows per feed, 5k-key
    //    domain, right rows offset ≤5m from their left partners (all
    //    inside the ±10m band); dual watermarks, bounded state
    val lSchema = StructType(Seq(
      StructField("k", LongType), StructField("lts", TimestampType)))
    val rSchema = StructType(Seq(
      StructField("k", LongType), StructField("rts", TimestampType)))
    run(spark, ckpt, "interval_join", 500000, Seq(
      Feed(lSchema, (bi, per) => (0 until per).map { i =>
        val gid = bi.toLong * per + i
        Row(gid % 5000, new java.sql.Timestamp(base.getTime + gid * 50))
      }),
      Feed(rSchema, (bi, per) => (0 until per).map { i =>
        val gid = bi.toLong * per + i
        Row(gid % 5000,
          new java.sql.Timestamp(base.getTime + gid * 50 + (gid % 300) * 1000))
      }))) { case Seq(l, r) =>
      graft.streaming.StreamVerbs.intervalJoin(l, "lts", r, "rts", Seq("k"))
    }
  }
}
