package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference has no streaming at all
  * (SURVEY §2.11); this extends the same verb vocabulary to unbounded
  * data the Spark-native way: readStream → transforms → writeStream,
  * watermarks + windowed aggregations, and custom session state via
  * `flatMapGroupsWithState`. Batch verbs from CrysFrame compose
  * unchanged on streaming frames (same Dataset API).
  */
final case class Event(event_id: Long, ts: java.sql.Timestamp,
                       user_id: Long, event_type: String, value: Double)

final case class Session(user_id: Long, start: java.sql.Timestamp,
                         end: java.sql.Timestamp, n_events: Int,
                         sum_value: Double)

final case class SessionState(start: Long, last: Long, n: Int, total: Double)

object StreamVerbs {

  /** File-source stream over an events-shaped parquet directory. */
  def readEventStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .parquet(path)

  /** Tumbling event-time window counts with a watermark: late rows
    * beyond `lateness` are dropped, state is bounded — the streaming
    * counterpart of the batch `q_time_window` aggregation. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** HOPPING (sliding) event-time window counts — the dashboard shape
    * (`q_hopping_window`'s streaming twin): each event lands in
    * window÷slide overlapping windows, all maintained in the same
    * bounded watermarked state. State rows = windows overlapping the
    * watermark horizon × observed event types — the slide ratio
    * multiplies state, not correctness. */
  def hoppingCounts(events: DataFrame, window_ : String = "1 hour",
                    slide: String = "15 minutes",
                    lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming trending keys: a [[graft.ml.MisraGriesAgg]] sketch per
    * tumbling event-time window — the frequent-items question ("what
    * is trending this hour") at BOUNDED state, where an exact
    * `groupBy(window, key).count` would hold one state row per
    * distinct key per window (unbounded on an unbounded key domain).
    * The sketch buffer caps per-window state at `counters` entries and
    * merges associatively across micro-batches (Agarwal et al.'s
    * mergeable-summaries bound composes), so late data within the
    * watermark folds in exactly like batch partitions do.
    *
    * Emits one row per window: `window`, `n_total`, and the sketch's
    * `counts` map (key → lower-bound count; every key with frequency
    * > n_total/(counters+1) in the window is guaranteed present).
    * Downstream can explode + rank, or hand candidates to the batch
    * [[graft.ml.HeavyHitters.topKExact]] recount for exactness. */
  def streamingTopK(rows: DataFrame, keyCol: String, tsCol: String,
                    window_ : String = "1 hour", lateness: String = "2 hours",
                    counters: Int = 1024): DataFrame = {
    val mg = udaf(new graft.ml.MisraGriesAgg(counters),
      org.apache.spark.sql.Encoders.STRING)
    rows
      .withWatermark(tsCol, lateness)
      // null keys are ignored, the batch HeavyHitters contract — fed
      // through, they become null MAP KEYS in the sketch buffer, which
      // Catalyst's map encoder rejects at serialization (query death)
      .filter(col(keyCol).isNotNull)
      .groupBy(window(col(tsCol), window_))
      .agg(count(lit(1)).as("n_total"),
        mg(col(keyCol).cast("string")).as("sketch"))
      .select(col("window"), col("n_total"), col("sketch.counts").as("counts"))
  }

  /** Gap-based sessionization per user via flatMapGroupsWithState.
    * A session closes when a later event arrives past the gap;
    * `closeOnSilence=true` additionally arms a processing-time timeout
    * so idle sessions flush without new input (long-running queries
    * only — the timeout re-triggers micro-batches, so a drain-style
    * `processAllAvailable` test would never settle).
    * State per key is O(1) — start/last/n/sum — so a 1000-executor
    * cluster holds billions of concurrent sessions. */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 closeOnSilence: Boolean = false): Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeout = if (closeOnSilence) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                if (closeOnSilence) state.setTimeoutDuration(gapMs)
              case None =>
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming exact dedup on a key with watermarked state — the
    * unbounded counterpart of Dedup.exact (`dropDuplicates` keeps
    * per-key state; the watermark bounds it). */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicates(keyCols :+ "ts")

  /** Streaming content dedup for text records: 64-bit normalized
    * content hash (the same codegen'd kernel as the batch
    * `Dedup.exactByContentHash`), duplicates dropped within the
    * watermark horizon — per-key state is the 8-byte hash, never the
    * document. */
  def streamingContentDedup(docs: DataFrame, textCol: String, tsCol: String,
                            lateness: String = "2 hours"): DataFrame =
    docs
      .withColumn("__chash", graft.text.TextFunctions.contentHash(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(Seq("__chash"))
      .drop("__chash")

  /** Streaming NEAR-dedup at ingest on a row-local signature column —
    * the perceptual counterpart of [[streamingContentDedup]]: feed it
    * a 64-bit perceptual hash (`Multimodal.withPerceptualHash`), audio
    * fingerprint, or MinHash signature, and re-encodes of the SAME
    * decoded content (BMP re-saved as PNG, gain-edited PCM, re-wrapped
    * containers) collapse onto the first arrival even though their
    * BYTES — and so their content hashes — differ. Signature kernels
    * are row-local columns, so they compose onto a stream unchanged;
    * the dedup state is one ≤8-byte signature per distinct key within
    * the watermark, never the media. Rows with a
    * NULL signature (undecodable content) pass through un-deduped,
    * matching the batch ops' convention that unhashable rows survive.
    * Semantics are signature EQUALITY (Hamming-0): the batch
    * equivalent is `Dedup.exact` on the signature column, which the
    * e2e spec pins keep-set-identical. */
  def streamingSignatureDedup(rows: DataFrame, sigCol: String, tsCol: String,
                              lateness: String = "2 hours"): DataFrame = {
    val wm = rows.withWatermark(tsCol, lateness)
    wm.filter(col(sigCol).isNotNull)
      .dropDuplicatesWithinWatermark(Seq(sigCol))
      .unionByName(wm.filter(col(sigCol).isNull))
  }

  /** Streaming twin of [[graft.ml.Dedup.dedupAgainstExact]] — the
    * production ingest loop end to end: a LIVE crawl stream deduped
    * AGAINST the standing corpus's precomputed hash set
    * ([[graft.ml.Dedup.corpusContentHashes]], the persist-once-per-
    * snapshot artifact). Stream-static LEFT ANTI join on the 8-byte
    * content hash: STATELESS on the streaming side (no watermark
    * needed — the corpus side is static per micro-batch), so this
    * composes freely with [[streamingContentDedup]] for intra-stream
    * duplicates ahead of it. Corpus refreshes between restarts pick up
    * the re-read static frame, the standard stream-static contract. */
  def streamDedupAgainstCorpus(stream: DataFrame, corpusHashes: DataFrame,
                               textCol: String,
                               hashCol: String = "content_hash"): DataFrame =
    // ONE implementation with the batch verb (same null-text survival,
    // same refuse-early on a pre-existing hash column — "content_hash"
    // is exactly what corpusContentHashes emits, so pipelines that
    // precomputed it are the likely victims of a silent overwrite);
    // Dataset ops compose unchanged on a streaming frame
    graft.ml.Dedup.dedupAgainstHashes(stream, textCol, corpusHashes, hashCol)

  /** Recurring near-dup ingest against a PERSISTED index — the
    * streaming twin of the batch append loop (probe
    * [[graft.ml.Dedup.dedupAgainstNearIndexed]], then
    * [[graft.ml.Dedup.appendToNearDupIndex]]), packaged as a
    * `foreachBatch` body:
    *
    * {{{
    * stream.writeStream.foreachBatch(
    *   StreamVerbs.nearDupIngest(indexPath, "doc_id", "text", 0.8) {
    *     (kept, batchId) => kept.write.mode("append").parquet(out)
    *   }).start()
    * }}}
    *
    * PROBE-UNDER-APPEND semantics: micro-batch N probes the index AS
    * OF generation N (parquet's file listing is captured at read time,
    * so the probe never sees its own batch), the survivors go to
    * `sink`, and — when `appendKept` — those survivors land as
    * generation N+1 under the index's FROZEN banding parameters, so
    * every LATER batch dedups against them too. Exactly the batch
    * loop's semantics, chunk for chunk (differential spec-pinned:
    * stream-ingest ≡ batch probe+append on the same chunks, kept sets
    * AND final index state). foreachBatch (not a stateless transform)
    * is the honest shape: the append is a side effect on shared index
    * state, and Structured Streaming serializes micro-batches, giving
    * the single-writer ordering the append contract needs.
    *
    * What this verb does NOT do: dedup rows within one micro-batch
    * against each other (the probe is index-only — compose
    * [[streamingContentDedup]] / [[streamingSignatureDedup]] upstream for
    * intra-stream duplicates, the stream-composition convention), and
    * it does not compact — watch [[graft.ml.Dedup.NearDupAppendStats]]
    * from the appends or [[graft.operators.Audit.indexHealth]] and run
    * [[graft.ml.Dedup.compactNearDupIndex]] between restarts.
    * Exactly-once caveat: a replayed micro-batch (sink failure after
    * append) re-appends its anchors — duplicate (id, sig) members are
    * folded away by the next compaction and never change probe
    * results (dropping against a superset of one's own content is
    * idempotent). */
  def nearDupIngest(indexPath: String, idCol: String, textCol: String,
                    threshold: Double = 0.8, appendKept: Boolean = true)
                   (sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => graft.core.Persisted.holding { hold =>
      // read by the sink AND the append: one probe computation
      val kept = hold(graft.ml.Dedup
        .dedupAgainstNearIndexed(batch, indexPath, idCol, textCol, threshold))
      sink(kept, batchId)
      if (appendKept && !kept.isEmpty) {
        graft.ml.Dedup.appendToNearDupIndex(kept, idCol, textCol, indexPath)
        ()
      }
    }

  /** Semantic blocklist at ingest — the EMBEDDING twin of n-gram
    * decontamination: drop stream rows whose vector is within
    * `threshold` cosine of ANY blocklist item (eval-set items,
    * known-bad content). The blocklist is small BY NATURE (eval sets,
    * not corpora), so the honest plan is a per-micro-batch broadcast
    * nested-loop anti-join: STATELESS on the stream side (no
    * watermark, no state store), |batch| × |blocklist| compiled
    * cosine kernels per batch — the same work the batch
    * decontamination pass would do, paid incrementally. Null or
    * missing vectors survive (unhashable rows survive, the repo
    * convention); blocklist refreshes apply on restart, the standard
    * stream-static contract. For corpus-scale "against" sets use the
    * banded batch path ([[graft.ml.Dedup.embeddingDedup]] machinery) —
    * a broadcast of corpus-scale vectors is the wrong plan, which is
    * why this verb names the SMALL-set use case. */
  def streamSemanticBlocklist(stream: DataFrame, blocklist: DataFrame,
                              vecCol: String, blockVecCol: String,
                              threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    val probe = broadcast(blocklist
      .filter(col(blockVecCol).isNotNull)
      .select(col(blockVecCol).as("__bl_vec")))
    // nanvl: a zero-norm vector on EITHER side makes the cosine NaN,
    // and Spark SQL orders NaN ABOVE every double — a bare
    // `cosine >= threshold` would then be TRUE, so one zero blocklist
    // vector would silently drop the entire stream. Mapping NaN to -2
    // makes zero-norm pairs non-matches, agreeing with the batch
    // kernel's JVM-side semantics (CosineBucketDupsExpr: NaN never
    // passes a threshold).
    stream.join(probe,
      col(vecCol).isNotNull &&
        nanvl(graft.functions.Kernels.cosineSim(col(vecCol), col("__bl_vec")),
          lit(-2.0)) >= threshold,
      "left_anti")
  }

  /** Model-based quality filtering at ingest: score each streaming
    * document under a batch-trained, driver-compiled Naive Bayes
    * model and keep rows the model calls in-domain
    * (`score_micro > 0`). STATELESS — the compiled model rides inside
    * one projection ([[graft.text.Classifier.withNbScore]]), so
    * there is no state store, no watermark, and the kept set is
    * bit-identical to scoring the same rows in batch (spec-pinned).
    * Train with `Classifier.compileNb` on the trusted corpus offline;
    * model refreshes apply on restart, the standard stream-static
    * contract. Returns the stream's original columns. */
  def streamQualityFilter(stream: DataFrame, textCol: String,
                          model: graft.text.Classifier.NbCompiledModel): DataFrame =
    // column-append scoring, NOT score-then-self-join: a streaming
    // self-join would plan as a STATEFUL stream-stream join (the
    // planner cannot know both sides are one micro-batch) — the
    // append form stays a single stateless projection
    graft.text.Classifier
      .withNbScore(stream, textCol, model, "__nb_score", "__nb_pred")
      .filter(col("__nb_pred") === 1L)
      .drop("__nb_score", "__nb_pred")

  /** SURGICAL decontamination at ingest: cut from every streamed
    * document exactly the ≥ `minLen`-char spans it shares with a
    * static reference corpus (eval benchmark, blocklist), keeping
    * the document — the span-level complement of dropping flagged
    * rows. The reference compiles ONCE to a sorted gram-hash array
    * ([[graft.text.ExactSubstr.compileReference]], size-guarded)
    * that rides inside a single expression, so each micro-batch pays
    * one stateless projection: no explode, no shuffle, no streaming
    * state, batch-identical output (the compiled path is spec-pinned
    * bit-equal to the batch join path). Appends `clean_text`,
    * `dup_spans`, `removed_chars`. */
  def streamCutAgainst(stream: DataFrame, textCol: String,
                       reference: DataFrame, refTextCol: String,
                       minLen: Int = 40, maxGrams: Int = 2000000): DataFrame =
    graft.text.ExactSubstr.cutAgainstCompiled(stream, textCol,
      graft.text.ExactSubstr.compileReference(reference, refTextCol, minLen, maxGrams),
      minLen)

  /** Stream-static dimension enrichment: broadcast-join a (small,
    * slowly-changing) dimension onto the stream — map-side per
    * micro-batch, no streaming state at all. The everyday shape for
    * attaching user/document metadata in an ingest pipeline. */
  def enrich(stream: DataFrame, dim: DataFrame, by: Seq[String],
             joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), by, joinType)

  /** Stream-stream interval join: rows of `left` match rows of `right`
    * with the same key whose event time lies in
    * [leftTs − before, leftTs + after]. BOTH sides carry watermarks,
    * and the time-range predicate is what lets Spark BOUND the join
    * state — each side's buffer evicts rows older than
    * watermark − interval, so state is O(rate × (lateness + interval)),
    * never the stream history. Without the range predicate a
    * stream-stream join would require unbounded buffering (and Spark
    * rejects it for inner joins without watermarks). Column names must
    * be disjoint apart from the key. Output layout: the key columns
    * FIRST (coalesced across sides so unmatched outer rows keep
    * theirs), then left non-key columns, then right non-key columns —
    * access by name, not position. The everyday shape: correlating
    * two event feeds (clicks ↔ impressions) at 100 TB/day rates. */
  def intervalJoin(left: DataFrame, leftTs: String,
                   right: DataFrame, rightTs: String,
                   by: Seq[String],
                   before: String = "10 minutes", after: String = "10 minutes",
                   lateness: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    // outer variants are watermark-gated: an unmatched row emits
    // null-padded only once the watermark proves no partner can still
    // arrive — same bounded state, delayed emission. Normalize ONCE
    // (ROOT locale, spaces→underscores, trimmed) and hand Spark that
    // exact string, so everything the require admits actually plans
    val jt = joinType.trim.toLowerCase(java.util.Locale.ROOT).replace(" ", "_")
    require(Set("inner", "left_outer", "right_outer", "full_outer").contains(jt),
      s"unsupported stream-stream interval joinType '$joinType'")
    // fail fast on shared non-key names (incl. both sides naming their
    // ts column the same): the join would otherwise plan fine and blow
    // up with AMBIGUOUS_REFERENCE at the first downstream col() use
    val shared = left.columns.toSet.intersect(right.columns.toSet) -- by
    require(shared.isEmpty,
      s"intervalJoin requires disjoint non-key column names; shared: ${shared.mkString(", ")}")
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    val range = r(rightTs).between(
      l(leftTs) - expr(s"INTERVAL $before"),
      l(leftTs) + expr(s"INTERVAL $after"))
    // an empty key list is a pure time-range join — valid in Spark
    // when both sides are watermarked (state still bounded)
    val cond = by.map(k => l(k) === r(k)).foldLeft(range)(_ && _)
    // one key column in the output: coalesced so unmatched outer rows
    // (null on one side) still carry their key
    val keyCols = by.map(k => coalesce(l(k), r(k)).as(k))
    val lCols = left.columns.filterNot(by.contains).map(c => l(c))
    val rCols = right.columns.filterNot(by.contains).map(c => r(c))
    l.join(r, cond, jt).select(keyCols ++ lCols ++ rCols: _*)
  }
}
