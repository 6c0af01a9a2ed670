package graft

import graft.streaming.StreamVerbs
import graft.text.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Stream-vs-batch DIFFERENTIAL fuzzer (r10): the streaming twins are
  * each spec-pinned in isolation (StreamingSpec), but never composed
  * randomly. Each seeded case generates a small document stream with
  * planted structure (near-dups, corpus hits, benchmark contamination,
  * spam), applies a random chain of streaming-safe STATELESS verbs
  * (quality filter, surgical decontamination, corpus anti-join,
  * projections/filters) optionally capped by ONE stateful twin
  * (content/signature dedup, hopping/tumbling counts), drives it
  * through MemoryStream micro-batches (random 1–4 splits), and asserts
  * the output equals the batch twin on the same rows:
  *
  *  - stateless chains: the SAME verb functions compose on a batch
  *    frame (one Dataset API — the library's core streaming claim), so
  *    equality is exact row-multiset equality; micro-batch boundaries
  *    must be invisible.
  *  - content/signature dedup: keep-set equality at SIGNATURE
  *    granularity (which row of an intra-micro-batch duplicate group
  *    survives is not contractual — partition order picks it — but the
  *    set of surviving signatures, their uniqueness, and null-signature
  *    pass-through are).
  *  - windowed counts: exact equality of (window, type, n, sum) vs the
  *    batch window aggregation — sums are integer-valued doubles, so
  *    accumulation order cannot smear them.
  *
  * Seeded and replayable; vocabulary growth is append-only (the
  * VerbChainFuzzSpec nOps contract). r11 appends three terminals —
  * stream-stream interval join (two-feed runner, inner, vs the same
  * verb on batch frames), streamingTopK (exact-regime sketch equality)
  * and key-based streamingDedup (distinct key-set vs batch
  * dropDuplicates, null keys grouping as values). Campaign logs:
  * sweeps/r10_fuzz_campaign.md (vocab 6), sweeps/r11_fuzz_campaign.md
  * (vocab 9).
  */
class StreamBatchFuzzSpec extends GraftSpec {

  import spark.implicits._

  private def ts(halfMin: Int): Timestamp =
    new Timestamp(1700000000000L + halfMin * 30000L)

  private val goodWords = Vector("the", "analysis", "pipeline", "considers",
    "document", "quality", "signals", "across", "measured", "windows",
    "carefully", "balanced", "sentence", "structure", "with", "meaningful",
    "phrasing", "throughput", "partitions", "ordered")
  private val spamWords = Vector("zzz", "!!!", "xx", "$$$", "buy", "now", "kk")
  private val passage =
    "the quick brown fox jumps over the lazy dog again and again"

  private lazy val corpus: DataFrame = Seq(
    (900L, "the standing corpus document about pipeline quality signals"),
    (901L, "another corpus entry with carefully balanced sentence structure"))
    .toDF("doc_id", "text")
  private lazy val corpusHashes =
    graft.ml.Dedup.corpusContentHashes(corpus, "text", "content_hash")
  private lazy val reference: DataFrame =
    Seq(s"QUESTION: $passage ANSWER: 42").toDF("text")
  private lazy val nbModel = {
    val rnd = new scala.util.Random(7)
    val good = (0 until 40).map(_ =>
      ((0 until 10).map(_ => goodWords(rnd.nextInt(goodWords.size)))
        .mkString(" "), true))
    val spam = (0 until 40).map(_ =>
      ((0 until 5).map(_ => spamWords(rnd.nextInt(spamWords.size)))
        .mkString(" "), false))
    graft.text.Classifier.compileNb((good ++ spam).toDF("text", "lab"),
      "text", col("lab"))
  }

  private def genDocs(rnd: scala.util.Random): Seq[(Long, Timestamp, String)] = {
    val n = 30 + rnd.nextInt(90)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).foreach { i =>
      val t = rnd.nextInt(10) match {
        case 0 if i > 0 => // planted near-dup: whitespace noise collapses
          // under contentHash normalization
          "  " + texts(rnd.nextInt(i)).replace(" ", "  ")
        case 1 => // standing-corpus hit (case noise; normalization-equal)
          if (rnd.nextBoolean())
            "the STANDING corpus document about pipeline quality signals"
          else "another corpus entry with carefully balanced sentence structure"
        case 2 => // spam
          (0 until 3 + rnd.nextInt(4))
            .map(_ => spamWords(rnd.nextInt(spamWords.size))).mkString(" ")
        case 3 => // benchmark-contaminated
          s"my own intro then $passage and my own outro number ${rnd.nextInt(100)}"
        case _ => // ordinary document
          (0 until 8 + rnd.nextInt(12))
            .map(_ => goodWords(rnd.nextInt(goodWords.size))).mkString(" ")
      }
      texts += t
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, ts(i), t) }.toSeq
  }

  /** Append-only stateless vocabulary (the nOps contract). Each op is
    * ONE function applied verbatim to both the streaming and the batch
    * frame — that identity IS the claim under test. */
  private val nStateless = 6
  private def statelessOp(op: Int, rnd: scala.util.Random, nExtra: Int,
                          cut: Boolean): (DataFrame => DataFrame, Int, Boolean) =
    op match {
      case 0 =>
        val minLen = 20 + rnd.nextInt(40)
        (df => df.filter(length(col("text")) >= minLen), nExtra, cut)
      case 1 =>
        (df => df.withColumn(s"len_$nExtra",
          length(col("text")).cast("long")), nExtra + 1, cut)
      case 2 =>
        (df => df.withColumn(s"tok_$nExtra",
          TextFunctions.tokenCountWs(col("text"))), nExtra + 1, cut)
      case 3 =>
        (df => StreamVerbs.streamQualityFilter(df, "text", nbModel), nExtra, cut)
      case 4 =>
        if (cut) (identity[DataFrame] _, nExtra, cut) // appends fixed names: once
        else (df => StreamVerbs.streamCutAgainst(df, "text", reference, "text",
          minLen = 40), nExtra, true)
      case 5 =>
        (df => StreamVerbs.streamDedupAgainstCorpus(df, corpusHashes, "text"),
          nExtra, cut)
    }

  private def runStream(build: DataFrame => DataFrame, outputMode: OutputMode,
                        docs: Seq[(Long, Timestamp, String)], nChunks: Int,
                        name: String): Seq[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val stream = build(in.toDF().toDF("doc_id", "ts", "text"))
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    try {
      val chunkSz = math.max(1, (docs.size + nChunks - 1) / nChunks)
      docs.grouped(chunkSz).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      spark.table(name).collect().toSeq
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  private def rowKey(r: org.apache.spark.sql.Row): String =
    (0 until r.length).map(i =>
      if (r.isNullAt(i)) "∅" else r.get(i).toString).mkString("|")

  /** Terminal vocabulary size — append-only, like the batch fuzzer's
    * nOps: growing it changes every seed's terminal draw, so campaign
    * records name the effective size and old ranges are replayed with
    * the size they were found under. r10 shipped 6; r11 appended the
    * three stateful twins that had individual specs but no randomized
    * differential arm (stream-stream interval join, streamingTopK,
    * key-based streamingDedup); r12 appends the two WATERMARK-ADVANCE
    * emission shapes (VERDICT r11 #5) — outer interval join (null
    * emissions on watermark advance, driven by sentinel ticks past the
    * horizon and filtered from assertions) and watermark-EXPIRY
    * signature dedup (state eviction mid-stream: a key reappearing
    * after its state provably expired must survive again); r13 appends
    * the recurring near-dup INGEST loop (nearDupIngest: foreachBatch
    * probe-then-append over a persisted index — probe-under-append
    * semantics vs the batch probe+append loop on identical chunks,
    * kept sets AND final index state). r14 appends the index
    * LIFECYCLE interleave (verdict r13 #7): the same recurring-ingest
    * loop with seeded compactions and rebuilds injected between
    * chunks — lifecycle ops must be probe-invisible (keep-sets
    * step-invariant vs an append-only twin, final indexes
    * interchangeable under a fixed probe). */
  private val allTerminals = 13

  /** Two-feed runner for the stream-stream interval join terminals:
    * each side is its own MemoryStream, chunks interleave (left chunk,
    * right chunk, drain) so the join sees genuinely staggered
    * micro-batches across both inputs. `tickRounds` (r12) appends
    * watermark-advancing sentinel rounds AFTER the data: each round
    * feeds one row per side and drains — the first tick raises the max
    * event time, the second runs a micro-batch under the advanced
    * watermark, which is when outer-join unmatched state actually
    * emits. Tick rows carry a sentinel key the caller filters out. */
  private def runTwoStreams(build: (DataFrame, DataFrame) => DataFrame,
                            leftRows: Seq[(Long, Timestamp, Long)],
                            rightRows: Seq[(Long, Timestamp, Long)],
                            nChunks: Int, name: String,
                            tickRounds: Seq[((Long, Timestamp, Long), (Long, Timestamp, Long))] = Nil)
      : Seq[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(Long, Timestamp, Long)]
    val rIn = MemoryStream[(Long, Timestamp, Long)]
    val stream = build(lIn.toDF().toDF("k", "lts", "l_id"),
      rIn.toDF().toDF("k", "rts", "r_id"))
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      val lChunk = math.max(1, (leftRows.size + nChunks - 1) / nChunks)
      val rChunk = math.max(1, (rightRows.size + nChunks - 1) / nChunks)
      val lGroups = leftRows.grouped(lChunk).toSeq
      val rGroups = rightRows.grouped(rChunk).toSeq
      (0 until math.max(lGroups.size, rGroups.size)).foreach { i =>
        if (i < lGroups.size) lIn.addData(lGroups(i))
        if (i < rGroups.size) rIn.addData(rGroups(i))
        q.processAllAvailable()
      }
      tickRounds.foreach { case (lt, rt) =>
        lIn.addData(lt); rIn.addData(rt)
        q.processAllAvailable()
      }
      spark.table(name).collect().toSeq
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** Single-feed runner with EXPLICIT chunk groups (r12): the
    * watermark-expiry terminal needs epoch-structured micro-batches
    * with sentinel ticks between epochs, not size-based chunking. */
  private def runStreamGrouped(build: DataFrame => DataFrame,
                               groups: Seq[Seq[(Long, Timestamp, Option[Long])]],
                               name: String): Seq[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Option[Long])]
    val stream = build(in.toDF().toDF("doc_id", "ts", "sig"))
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      groups.foreach { g =>
        in.addData(g)
        q.processAllAvailable()
      }
      spark.table(name).collect().toSeq
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  private def runCase(seed: Int, nTerminals: Int = allTerminals,
                      forceTerminal: Int = -1): Unit = {
    val rnd = new scala.util.Random(seed)
    val docs = genDocs(rnd)
    val nChunks = 1 + rnd.nextInt(4)
    // random stateless chain
    var nExtra = 0
    var cut = false
    val chain = (0 until rnd.nextInt(4)).map { _ =>
      val (fn, ne, c) = statelessOp(rnd.nextInt(nStateless), rnd, nExtra, cut)
      nExtra = ne; cut = c
      fn
    }
    val stateless: DataFrame => DataFrame = df => chain.foldLeft(df)((d, f) => f(d))
    val batchBase = stateless(docs.toDF("doc_id", "ts", "text"))
    val name = s"sbf_$seed"
    try {
      val terminal = {
        val drawn = rnd.nextInt(nTerminals) // always consume randomness
        if (forceTerminal >= 0) forceTerminal else drawn
      }
      terminal match {
        case 0 | 1 => // pure stateless chain: exact row-multiset equality
          val out = runStream(stateless, OutputMode.Append(), docs, nChunks, name)
          val expected = batchBase.collect().toSeq
          assert(out.map(rowKey).sorted == expected.map(rowKey).sorted,
            s"stateless chain diverged: stream ${out.size} rows vs batch ${expected.size}")
        case 2 => // streaming content dedup: signature-granularity keep-set
          val out = runStream(
            df => StreamVerbs.streamingContentDedup(stateless(df), "text", "ts"),
            OutputMode.Append(), docs, nChunks, name)
          val outHashes = out.map(_.getAs[String]("text"))
          val outHashSet = spark.createDataset(outHashes).toDF("text")
            .select(TextFunctions.contentHash(col("text")).as("h"))
            .collect().map(_.getLong(0))
          val batchHashSet = batchBase
            .select(TextFunctions.contentHash(col("text")).as("h"))
            .distinct().collect().map(_.getLong(0)).toSet
          assert(outHashSet.toSet == batchHashSet,
            s"kept-hash set diverged (stream ${outHashSet.toSet.size} vs batch ${batchHashSet.size})")
          assert(outHashSet.length == outHashSet.distinct.length,
            "a content hash survived dedup twice")
          // survivors must be actual input rows
          val inputIds = batchBase.select("doc_id").collect().map(_.getLong(0)).toSet
          assert(out.forall(r => inputIds.contains(r.getAs[Long]("doc_id"))))
        case 3 => // streaming signature dedup: nulls pass through un-deduped
          val withSig: DataFrame => DataFrame = df => stateless(df)
            .withColumn("sig", when(pmod(col("doc_id"), lit(5)) === 0, lit(null))
              .otherwise(pmod(col("doc_id"), lit(7))).cast("long"))
          val out = runStream(
            df => StreamVerbs.streamingSignatureDedup(withSig(df), "sig", "ts"),
            OutputMode.Append(), docs, nChunks, name)
          // the stateless chain may have appended columns ahead of sig:
          // address by NAME, never position
          def sigOf(r: org.apache.spark.sql.Row): Option[Long] = {
            val i = r.fieldIndex("sig")
            if (r.isNullAt(i)) None else Some(r.getLong(i))
          }
          def idOf(r: org.apache.spark.sql.Row): Long = r.getAs[Long]("doc_id")
          val batch = withSig(docs.toDF("doc_id", "ts", "text")).collect().toSeq
          val batchNonNullSigs = batch.flatMap(sigOf).toSet
          val batchNullIds = batch.filter(sigOf(_).isEmpty).map(idOf).sorted
          val outNonNull = out.flatMap(sigOf)
          val outNullIds = out.filter(sigOf(_).isEmpty).map(idOf).sorted
          assert(outNonNull.toSet == batchNonNullSigs, "surviving signature set diverged")
          assert(outNonNull.length == outNonNull.distinct.length,
            "a signature survived dedup twice")
          assert(outNullIds == batchNullIds,
            "null-signature rows must ALL pass through un-deduped")
        case 4 => // windowed counts: exact equality vs the batch window agg
          val hop = rnd.nextBoolean()
          val mkEvents: DataFrame => DataFrame = df => stateless(df)
            .select(col("ts"),
              pmod(col("doc_id"), lit(3)).cast("string").as("event_type"),
              length(col("text")).cast("double").as("value"))
          val agg: DataFrame => DataFrame =
            if (hop) df => StreamVerbs.hoppingCounts(mkEvents(df),
              "20 minutes", "5 minutes", "2 hours")
            else df => StreamVerbs.tumblingCounts(mkEvents(df),
              "10 minutes", "2 hours")
          val out = runStream(agg, OutputMode.Complete(), docs, nChunks, name)
          val win = if (hop) window(col("ts"), "20 minutes", "5 minutes")
            else window(col("ts"), "10 minutes")
          val expected = mkEvents(docs.toDF("doc_id", "ts", "text"))
            .groupBy(win, col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
            .collect().toSeq
          assert(out.map(rowKey).sorted == expected.map(rowKey).sorted,
            s"windowed counts diverged: stream ${out.size} vs batch ${expected.size}")
        case 5 => // gap sessionization vs a driver-computed oracle
          val gapMs = Seq(60000L, 120000L, 300000L)(rnd.nextInt(3))
          // batch side of the stateless chain defines the real events
          val evRows = batchBase.select("doc_id", "ts", "text").collect()
            .map(r => (r.getLong(0) % 5, r.getTimestamp(1).getTime,
              r.getString(2).length.toDouble)).sortBy(e => (e._1, e._2))
          // sentinel far past every real event: closes each user's last
          // session; the sentinel's own session stays open → never emits
          val maxTs = (evRows.map(_._2) :+ 0L).max
          // sentinel text must SURVIVE the stateless chain (length
          // filters admit >=60 chars; the NB model was trained on
          // goodWords draws, so this is maximally in-domain; it is not
          // a corpus entry, so the anti-join keeps it)
          val sentinels = (0L until 5L).map(u =>
            (100000L + u, new Timestamp(maxTs + gapMs * 10),
              goodWords.mkString(" ")))
          val mkEvents: DataFrame => org.apache.spark.sql.Dataset[graft.streaming.Event] =
            df => stateless(df)
              .select(col("doc_id").as("event_id"), col("ts"),
                pmod(col("doc_id"), lit(5)).as("user_id"),
                lit("doc").as("event_type"),
                length(col("text")).cast("double").as("value"))
              .as[graft.streaming.Event]
          val out = runStream(
            df => StreamVerbs.sessionize(mkEvents(df), gapMs).toDF(),
            OutputMode.Append(), docs ++ sentinels, nChunks, name)
          // driver oracle: split each user's ts-ordered events on gap
          val expected = evRows.groupBy(_._1).toSeq.flatMap { case (u, es) =>
            val sess = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Long, Int, Double)]
            var start, last = -1L; var n = 0; var sum = 0.0
            es.foreach { case (_, t, v) =>
              if (start < 0) { start = t; last = t; n = 1; sum = v }
              else if (t - last <= gapMs) { last = t; n += 1; sum += v }
              else { sess += ((u, start, last, n, sum)); start = t; last = t; n = 1; sum = v }
            }
            if (start >= 0) sess += ((u, start, last, n, sum)) // closed by sentinel
            sess
          }.map(s => s.productIterator.mkString("|")).sorted
          // sentinel users are doc_id%5 too — sentinel ids 100000-100004
          // map to users 0-4, closing real sessions; their own open
          // sessions never emit, so `out` should be exactly the oracle
          val got = out.map(r => (r.getAs[Long]("user_id"),
            r.getAs[Timestamp]("start").getTime, r.getAs[Timestamp]("end").getTime,
            r.getAs[Int]("n_events"), r.getAs[Double]("sum_value")))
            .map(s => s.productIterator.mkString("|")).sorted
          assert(got == expected,
            s"sessionize diverged: stream ${got.size} vs oracle ${expected.size} sessions")
        case 6 => // stream-stream interval join vs the SAME verb on batch
          // frames (withWatermark is a no-op in batch — one Dataset API,
          // the library's core streaming claim). INNER only: the outer
          // variants emit unmatched rows when the watermark PASSES, and
          // a drained MemoryStream never advances past its last event,
          // so final-window unmatched rows are contractually unemitted
          // — pinned in StreamingSpec, not differentially comparable.
          val before = Seq("1 minute", "2 minutes", "5 minutes")(rnd.nextInt(3))
          val after = Seq("1 minute", "3 minutes")(rnd.nextInt(2))
          // left derives from the generated docs (ids/timestamps); right
          // is a second feed at jittered timestamps so matches straddle
          // chunk boundaries both ways
          val leftRows = docs.map { case (id, t, _) => (id % 4, t, id) }
          val rightRows = docs.filter(_ => rnd.nextBoolean()).map { case (id, t, _) =>
            ((id + rnd.nextInt(3)) % 4,
              new Timestamp(t.getTime + (rnd.nextInt(9) - 4) * 30000L),
              10000L + id)
          }
          val joined: (DataFrame, DataFrame) => DataFrame = (l, r) =>
            StreamVerbs.intervalJoin(l, "lts", r, "rts", Seq("k"),
              before = before, after = after, lateness = "4 hours")
          val out = runTwoStreams(joined, leftRows, rightRows, nChunks, name)
          val expected = joined(
            leftRows.toDF("k", "lts", "l_id"), rightRows.toDF("k", "rts", "r_id"))
            .collect().toSeq
          assert(out.map(rowKey).sorted == expected.map(rowKey).sorted,
            s"interval join diverged: stream ${out.size} vs batch ${expected.size} rows")
        case 7 => // streamingTopK vs the SAME verb on the batch frame —
          // in the exact regime: counters(32) exceeds the key space
          // (doc_id % 7 → ≤7 distinct), so the Misra-Gries sketch never
          // evicts and both sides are exact counts; merge order (micro-
          // batches vs batch partitions) cannot smear them. The lossy
          // regime is deliberately NOT differential (merge-order-
          // dependent lower bounds); its guarantee is spec-pinned in
          // HeavyHitters' own suite.
          val mkKeyed: DataFrame => DataFrame = df => stateless(df)
            .select(col("ts"), pmod(col("doc_id"), lit(7)).cast("string").as("key"))
          val topk: DataFrame => DataFrame = df =>
            StreamVerbs.streamingTopK(mkKeyed(df), "key", "ts",
              window_ = "15 minutes", lateness = "2 hours", counters = 32)
          val out = runStream(topk, OutputMode.Complete(), docs, nChunks, name)
          val expected = topk(docs.toDF("doc_id", "ts", "text")).collect().toSeq
          def topkKey(r: org.apache.spark.sql.Row): String = {
            val w = r.getStruct(r.fieldIndex("window"))
            val counts = r.getMap[String, Long](r.fieldIndex("counts"))
            s"${w.mkString("~")}|${r.getAs[Long]("n_total")}|" +
              counts.toSeq.sortBy(_._1).mkString(",")
          }
          assert(out.map(topkKey).sorted == expected.map(topkKey).sorted,
            s"streamingTopK diverged: stream ${out.size} vs batch ${expected.size} windows")
        case 8 => // key-based streamingDedup vs batch dropDuplicates on
          // the same key projection. The projection carries ONLY the
          // dedup keys (+ts), so the arbitrary-survivor freedom inside
          // a duplicate group cannot differ between engines — the
          // contractual object is the distinct key-set, and null keys
          // group like values (null == null for dropDuplicates), pinned
          // by planting doc_id%5==0 → null.
          val keyed: DataFrame => DataFrame = df => stateless(df)
            .select(col("ts"),
              when(pmod(col("doc_id"), lit(5)) === 0, lit(null))
                .otherwise(pmod(col("doc_id"), lit(5))).cast("long").as("k1"),
              pmod(col("doc_id"), lit(3)).cast("long").as("k2"))
          val dedup: DataFrame => DataFrame = df =>
            StreamVerbs.streamingDedup(keyed(df), Seq("k1", "k2"),
              lateness = "2 hours")
          val out = runStream(dedup, OutputMode.Append(), docs, nChunks, name)
          val expected = keyed(docs.toDF("doc_id", "ts", "text"))
            .dropDuplicates(Seq("k1", "k2", "ts")).collect().toSeq
          assert(out.map(rowKey).sorted == expected.map(rowKey).sorted,
            s"streamingDedup diverged: stream ${out.size} vs batch ${expected.size} rows")
        case 9 => // OUTER stream-stream interval join (r12): unmatched
          // rows emit null-padded only when the watermark PASSES their
          // join window — which a drained MemoryStream never does past
          // its last event. Two sentinel tick rounds past the horizon
          // (key 99, filtered from assertions on BOTH sides) advance
          // it for real: tick 1 raises the max event time, tick 2 runs
          // a micro-batch under the advanced watermark, where expired
          // unmatched state actually emits. The batch twin is the SAME
          // verb on batch frames (tick rows included, then filtered
          // identically), where outer emission is immediate.
          val joinType = Seq("left_outer", "right_outer", "full_outer")(rnd.nextInt(3))
          val before = Seq("1 minute", "2 minutes", "5 minutes")(rnd.nextInt(3))
          val after = Seq("1 minute", "3 minutes")(rnd.nextInt(2))
          val leftRows = docs.map { case (id, t, _) => (id % 4, t, id) }
          val rightRows = docs.filter(_ => rnd.nextBoolean()).map { case (id, t, _) =>
            ((id + rnd.nextInt(3)) % 4,
              new Timestamp(t.getTime + (rnd.nextInt(9) - 4) * 30000L),
              10000L + id)
          }
          val maxT = (leftRows.map(_._2.getTime) ++ rightRows.map(_._2.getTime)).max
          // horizon > maxT + lateness(1h) + after(≤3m): watermark after
          // tick 1 = horizon − 1h clears every real row's emission gate
          val t1 = new Timestamp(maxT + 75L * 60000L)
          val t2 = new Timestamp(maxT + 85L * 60000L)
          val ticks = Seq(((99L, t1, -1L), (99L, t1, -2L)),
            ((99L, t2, -3L), (99L, t2, -4L)))
          val joined: (DataFrame, DataFrame) => DataFrame = (l, r) =>
            StreamVerbs.intervalJoin(l, "lts", r, "rts", Seq("k"),
              before = before, after = after, lateness = "1 hour",
              joinType = joinType)
          val out = runTwoStreams(joined, leftRows, rightRows, nChunks, name,
              tickRounds = ticks)
            .filterNot(_.getAs[Long]("k") == 99L)
          val allTickRows = ticks.flatMap(t => Seq(t._1, t._2))
          val expected = joined(
            (leftRows ++ allTickRows.filter(_._3 % 2 != 0)).toDF("k", "lts", "l_id"),
            (rightRows ++ allTickRows.filter(_._3 % 2 == 0)).toDF("k", "rts", "r_id"))
            .filter(col("k") =!= 99L).collect().toSeq
          assert(out.map(rowKey).sorted == expected.map(rowKey).sorted,
            s"$joinType interval join diverged: stream ${out.size} vs batch ${expected.size} rows")
        case 10 => // watermark-EXPIRY signature dedup (r12): the case
          // r11's net never exercised — state EVICTION mid-stream. The
          // feed is epoch-structured: within an epoch (span 4 min <
          // the 5-min delay, one micro-batch) every duplicate is
          // within the delay of its first occurrence → guaranteed
          // dropped; between epochs two sentinel tick rounds (distinct
          // sentinel sigs, filtered) push the watermark provably past
          // every prior event's expiry, so a sig reappearing in the
          // next epoch finds NO state and must SURVIVE again. The
          // oracle is exact: one survivor per (sig, epoch) occupied,
          // all null-sig rows pass through, survivors are input rows.
          val ids = batchBase.select("doc_id").collect().map(_.getLong(0)).sorted
          val epochMs = 30L * 60000L // epoch base spacing
          val base = ts(0).getTime
          def epochOf(i: Int) = i % 3
          val events = ids.zipWithIndex.map { case (id, i) =>
            val e = epochOf(i)
            val sig = if (id % 5 == 0) None else Some(id % 6)
            (id, new Timestamp(base + e * epochMs + (i / 3) * 5000L), sig)
          }.toSeq
          val byEpoch = (0 until 3).map(e =>
            events.zipWithIndex.collect { case (ev, i) if epochOf(i) == e => ev })
          var tick = 0
          def tickRow(e: Int): Seq[(Long, Timestamp, Option[Long])] = {
            tick += 1
            // 20 min past the epoch base: watermark = tick − 5 min sits
            // ≥ 10 min past every epoch event's expiry (event + 5 min)
            Seq((-tick.toLong, new Timestamp(base + e * epochMs + 20L * 60000L
              + tick * 30000L), Some(9000L + tick)))
          }
          val groups: Seq[Seq[(Long, Timestamp, Option[Long])]] =
            byEpoch.zipWithIndex.flatMap { case (g, e) =>
              Seq(g, tickRow(e), tickRow(e)) }
          val out = runStreamGrouped(
            df => StreamVerbs.streamingSignatureDedup(df, "sig", "ts",
              lateness = "5 minutes"),
            groups, name)
            .filterNot(r => r.getAs[Long]("doc_id") < 0) // sentinel ticks
          def sigOf(r: org.apache.spark.sql.Row): Option[Long] = {
            val i = r.fieldIndex("sig")
            if (r.isNullAt(i)) None else Some(r.getLong(i))
          }
          val epochOfTs: Long => Int = t => ((t - base) / epochMs).toInt
          val gotPairs = out.flatMap(r => sigOf(r).map(s =>
            (s, epochOfTs(r.getAs[Timestamp]("ts").getTime))))
          val expectedPairs = events.zipWithIndex.collect {
            case ((_, _, Some(s)), i) => (s, epochOf(i)) }.distinct.sorted
          assert(gotPairs.sorted == expectedPairs,
            s"expiry dedup diverged: kept ${gotPairs.sorted} vs $expectedPairs — " +
              "a sig either survived twice in one epoch (state not honored) " +
              "or vanished after its state expired (over-dedup across expiry)")
          val gotNullIds = out.filter(sigOf(_).isEmpty).map(_.getAs[Long]("doc_id")).sorted
          val expNullIds = events.collect { case (id, _, None) => id }.sorted
          assert(gotNullIds.toSeq == expNullIds.toSeq,
            "null-signature rows must ALL pass through un-deduped")
          val inputIds = ids.toSet
          assert(out.forall(r => inputIds.contains(r.getAs[Long]("doc_id"))))
        case 11 => // recurring near-dup ingest (r13): foreachBatch
          // probe-then-append over a persisted index vs the batch
          // probe+append loop on IDENTICAL chunks. The stateless chain
          // is row-local, so applying it per-chunk equals applying it
          // whole and chunking — both sides see the same micro-batch
          // contents. Contract: per-chunk kept doc_id sets equal
          // (probe-under-append: a chunk-k survivor must drop a
          // chunk-k+1 near-copy on BOTH sides), and the two final
          // index states are interchangeable under a fixed probe.
          val dirS = java.nio.file.Files.createTempDirectory(s"fuzznd_s$seed").toString
          val dirB = java.nio.file.Files.createTempDirectory(s"fuzznd_b$seed").toString
          Seq(dirS, dirB).foreach(d => graft.ml.Dedup.buildNearDupIndex(
            corpus, "doc_id", "text", d,
            numHashes = 32, bands = 8, shingleSize = 4))
          val chunkSz = math.max(1, (docs.size + nChunks - 1) / nChunks)
          val chunks = docs.grouped(chunkSz).toSeq
          // --- streaming side: MemoryStream drained once per chunk
          val streamKept = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          locally {
            implicit val sqlCtx = spark.sqlContext
            val in = MemoryStream[(Long, Timestamp, String)]
            val q = stateless(in.toDF().toDF("doc_id", "ts", "text"))
              .writeStream
              .foreachBatch(StreamVerbs.nearDupIngest(dirS, "doc_id", "text",
                threshold = 0.7) { (kept, batchId) =>
                streamKept ++= kept.select("doc_id").collect()
                  .map(r => (batchId, r.getLong(0)))
                ()
              })
              .outputMode(OutputMode.Append()).start()
            try chunks.foreach { c => in.addData(c); q.processAllAvailable() }
            finally q.stop()
          }
          // --- batch twin: the documented recurring-ingest loop
          val batchKept = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          chunks.zipWithIndex.foreach { case (chunk, i) =>
            val kept = graft.ml.Dedup.dedupAgainstNearIndexed(
              stateless(chunk.toDF("doc_id", "ts", "text")), dirB,
              "doc_id", "text", threshold = 0.7)
            val ids2 = kept.select("doc_id").collect().map(_.getLong(0))
            batchKept ++= ids2.map((i.toLong, _))
            if (ids2.nonEmpty)
              graft.ml.Dedup.appendToNearDupIndex(kept, "doc_id", "text", dirB)
          }
          assert(streamKept.sorted.toSeq == batchKept.sorted.toSeq,
            s"nearDupIngest diverged: stream ${streamKept.size} kept " +
              s"(${streamKept.sorted.take(10)}…) vs batch ${batchKept.size} " +
              s"(${batchKept.sorted.take(10)}…)")
          // final index states interchangeable: a fixed probe batch
          // (one corpus near-copy, one near-copy of a kept doc if any,
          // one fresh doc) keeps the same ids against either index
          val keptTexts = docs.filter(d => streamKept.exists(_._2 == d._1))
          val probeRows = Seq(
            (5000L, ts(0), "the standing corpus document about pipeline quality signals"),
            (5002L, ts(2), "entirely novel probe content the indexes never saw before now")) ++
            keptTexts.headOption.map(d => (5001L, ts(1), d._3 + " x")).toSeq
          def probeIds(dir: String) = graft.ml.Dedup.dedupAgainstNearIndexed(
              probeRows.toDF("doc_id", "ts", "text"), dir, "doc_id", "text",
              threshold = 0.7)
            .select("doc_id").collect().map(_.getLong(0)).toSet
          assert(probeIds(dirS) == probeIds(dirB),
            "final index states diverged under a fixed probe")

        case 12 => // index lifecycle interleave (r14, verdict r13 #7):
          // the recurring-ingest loop with COMPACTION and REBUILD
          // injected between chunks. Lifecycle ops must be
          // probe-INVISIBLE: compaction re-folds the anchor chain to
          // the fresh-build bounded set (exact while no bucket
          // overflows maxPartners — these corpora sit far under it),
          // and a rebuild from corpus + accumulated kept rows equals
          // the append chain under the same frozen parameters. Twin
          // loops over IDENTICAL chunks: P appends only; L appends
          // then runs a seeded lifecycle op. Per-chunk kept sets and
          // a final fixed probe must match.
          val dirP2 = java.nio.file.Files.createTempDirectory(s"fuzzlc_p$seed").toString
          val dirL2 = java.nio.file.Files.createTempDirectory(s"fuzzlc_l$seed").toString
          Seq(dirP2, dirL2).foreach(d => graft.ml.Dedup.buildNearDupIndex(
            corpus, "doc_id", "text", d,
            numHashes = 32, bands = 8, shingleSize = 4))
          // corpus + every kept row so far — the rebuild's row set
          val accRows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
          corpus.collect().foreach(r => accRows += ((r.getLong(0), r.getString(1))))
          val sz = math.max(1, (docs.size + nChunks - 1) / nChunks)
          docs.grouped(sz).zipWithIndex.foreach { case (chunk, i) =>
            val chunkDf = stateless(chunk.toDF("doc_id", "ts", "text"))
            def step(dir: String): Seq[(Long, String)] = {
              val kept = graft.ml.Dedup.dedupAgainstNearIndexed(chunkDf, dir,
                "doc_id", "text", threshold = 0.7)
              val rows = kept.select("doc_id", "text").collect()
                .map(r => (r.getLong(0), r.getString(1))).toSeq
              if (rows.nonEmpty)
                graft.ml.Dedup.appendToNearDupIndex(kept, "doc_id", "text", dir)
              rows
            }
            val kp = step(dirP2)
            val kl = step(dirL2)
            assert(kp.map(_._1).sorted == kl.map(_._1).sorted,
              s"chunk $i kept sets diverged after lifecycle ops: " +
                s"plain ${kp.map(_._1).sorted} vs lifecycle ${kl.map(_._1).sorted}")
            accRows ++= kl
            rnd.nextInt(3) match {
              case 0 => // plain append cycle — no lifecycle op
              case 1 => graft.ml.Dedup.compactNearDupIndex(spark, dirL2)
              case 2 => graft.ml.Dedup.buildNearDupIndex(
                accRows.toSeq.toDF("doc_id", "text"), "doc_id", "text", dirL2,
                numHashes = 32, bands = 8, shingleSize = 4)
            }
          }
          val probeRows2 = Seq(
            (6000L, ts(0), "the standing corpus document about pipeline quality signals"),
            (6002L, ts(2), "entirely novel probe content the indexes never saw before now")) ++
            accRows.drop(2).headOption.map(d => (6001L, ts(1), d._2 + " x")).toSeq
          def probeIds2(dir: String) = graft.ml.Dedup.dedupAgainstNearIndexed(
              probeRows2.toDF("doc_id", "ts", "text"), dir, "doc_id", "text",
              threshold = 0.7)
            .select("doc_id").collect().map(_.getLong(0)).toSet
          assert(probeIds2(dirP2) == probeIds2(dirL2),
            "final index states diverged under a fixed probe after lifecycle ops")
      }
    } catch {
      case e: org.scalatest.exceptions.TestFailedException => throw e
      case e: Throwable =>
        fail(s"seed=$seed: ${e.getClass.getSimpleName}: ${e.getMessage}", e)
    }
  }

  test("stream-vs-batch differential: 25 seeds across all terminal shapes") {
    // smoke tier (fast dev loop); the tagged soak below carries the
    // campaign range and runs in every full `sbt test`/CI pass
    forEachSeed(1 to 25)(s => runCase(30000 + s))
  }

  test("every terminal arm fires at least once (incl. the r11 stateful twins)") {
    forEachSeed(0 until allTerminals)(t => runCase(31000 + t, forceTerminal = t))
  }

  test("nearDupIngest terminal: multi-chunk seeds with planted cross-chunk dups") {
    // extra forced coverage for the r13 terminal: the random draw gives
    // it ~1/12 of seeds; these force it under 4 different doc mixes
    forEachSeed(0 until 4)(i => runCase(32000 + i, forceTerminal = 11))
  }

  test("lifecycle terminal: compact/rebuild interleave under 4 forced doc mixes") {
    // extra forced coverage for the r14 terminal (verdict r13 #7): the
    // random draw gives it ~1/13 of seeds; these force the lifecycle
    // interleave across different chunk counts and stateless chains
    forEachSeed(0 until 4)(i => runCase(33000 + i, forceTerminal = 12))
  }

  test("stream-vs-batch differential soak: seeds 30026-30300", Soak) {
    forEachSeed(26 to 300)(s => runCase(30000 + s))
  }
}
