package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._

/** Misra–Gries buffer: at most `m` tracked keys with lower-bound
  * counts. Top-level case class: nested case classes break Janino
  * codegen for Encoders (see BoundedKBuf). */
case class MgBuf(counts: Map[String, Long])

/** Misra–Gries frequent-items sketch as a partial aggregate.
  *
  * The memory contract that exact `groupBy(key).count` cannot give at
  * unbounded key cardinality: the buffer never holds more than `m`
  * entries on either side of the shuffle, so a 100-TB scan with
  * billions of distinct keys aggregates in `m × keyBytes` memory per
  * task and ships one ≤`m`-entry map per partition instead of a
  * full-cardinality hash exchange.
  *
  * Guarantees (classical, and preserved under merge by the
  * subtract-the-(m+1)-th-largest rule — Agarwal et al., "Mergeable
  * Summaries", PODS '12):
  *   - every key with true frequency > N/(m+1) is present in the
  *     final buffer (N = total rows aggregated),
  *   - tracked counts are lower bounds, undercounting by ≤ N/(m+1).
  *
  * The sketch CONTENT depends on partition order (which keys ride
  * along below the guarantee line is arbitrary); callers must treat
  * it as a candidate superset, not a result — [[HeavyHitters.topKExact]]
  * recounts candidates exactly and certifies, so its OUTPUT is
  * deterministic even though the intermediate sketch is not.
  */
class MisraGriesAgg(m: Int) extends Aggregator[String, MgBuf, MgBuf] {
  require(m >= 1, s"MisraGriesAgg needs at least one counter, got $m")

  override def zero: MgBuf = MgBuf(Map.empty)

  override def reduce(b: MgBuf, key: String): MgBuf = {
    val c = b.counts
    c.get(key) match {
      case Some(n) => MgBuf(c.updated(key, n + 1))
      case None if c.size < m => MgBuf(c.updated(key, 1L))
      // eviction: the arriving key and every counter give up one unit.
      // Each eviction removes m+1 units of total mass, so evictions
      // number ≤ N/(m+1) — O(m) work amortizes to O(1)/row.
      case None => MgBuf(c.collect { case (k, n) if n > 1 => k -> (n - 1) })
    }
  }

  override def merge(b1: MgBuf, b2: MgBuf): MgBuf = {
    val summed = b2.counts.foldLeft(b1.counts) { case (acc, (k, n)) =>
      acc.updated(k, acc.getOrElse(k, 0L) + n)
    }
    if (summed.size <= m) MgBuf(summed)
    else {
      // subtract the (m+1)-th largest count from everything: ≤ m keys
      // survive and the N/(m+1) error bound composes across merges
      val sorted = summed.valuesIterator.toArray
      java.util.Arrays.sort(sorted)
      val vth = sorted(summed.size - m - 1)
      MgBuf(summed.collect { case (k, n) if n > vth => k -> (n - vth) })
    }
  }

  override def finish(b: MgBuf): MgBuf = b
  override def bufferEncoder = Encoders.product[MgBuf]
  override def outputEncoder = Encoders.product[MgBuf]
}

/** Exact top-k most-frequent values at unbounded key cardinality:
  * sketch → recount → certify.
  *
  * Exact `groupBy.count + orderBy.limit` shuffles every distinct key;
  * at 100 TB with billions of distinct keys (URLs, n-grams, user ids)
  * that exchange IS the job. This operator never moves more than
  * `counters` keys:
  *
  *   1. SKETCH pass: one scan folding into a [[MisraGriesAgg]]
  *      (map-side partial, ≤`counters`-entry buffers through the
  *      shuffle) — yields a candidate superset of every key with
  *      frequency > N/(counters+1), plus the exact row total N in the
  *      same job.
  *   2. RECOUNT pass: exact counts for candidate keys only — a
  *      broadcast semi-join (the ≤`counters`-row candidate table is
  *      the build side; the corpus never re-shuffles on the full key
  *      space, and partial aggregation reduces each task to
  *      ≤`counters` rows).
  *   3. CERTIFICATE, in-band: every emitted count is wrapped in
  *      `when(n·(counters+1) > N, n).otherwise(raise_error)`. If the
  *      k-th result exceeds N/(counters+1) then NO non-candidate key
  *      can reach — let alone beat — any emitted row (non-candidates
  *      have true frequency ≤ N/(counters+1) by the sketch bound), so
  *      a green run PROVES the k rows are exactly the global top-k
  *      under (n desc, key asc). Too few counters for the data's skew
  *      → the query raises instead of silently returning a plausible
  *      wrong answer. Catalyst cannot prune the check: it wraps the
  *      kept column itself (same pattern as q_approx_distinct).
  *
  * The driver-side candidate collect is size-guarded by construction
  * (≤ `counters` strings — same legitimacy class as the pivot-key and
  * probed-list collects). Null keys are ignored, like count-distinct.
  */
object HeavyHitters {

  def topKExact(df: DataFrame, key: Column, k: Int,
                counters: Int = 4096): DataFrame = {
    require(k >= 1, s"topKExact needs k >= 1, got $k")
    require(counters >= k,
      s"topKExact needs counters >= k (got counters=$counters, k=$k): " +
        "fewer candidates than requested results can never certify")
    val spark = df.sparkSession
    import spark.implicits._

    val keyed = df.select(key.cast("string").as("key"))
      .where(col("key").isNotNull)

    // pass 1: sketch + exact N in ONE job
    val mg = F.udaf(new MisraGriesAgg(counters), Encoders.STRING)
    val head = keyed.agg(
      count(lit(1)).as("n_total"), mg(col("key")).as("sketch")).head()
    val nTotal = head.getLong(0)
    val candidates = head.getStruct(1).getMap[String, Long](0).keys.toSeq
    // a sketch with fewer candidates than k can never certify k rows —
    // and silently emitting fewer would CLAIM a smaller top-k. Refuse
    // here (the per-row raise_error below can't fire on absent rows).
    if (candidates.size < k) throw new IllegalStateException(
      s"heavy-hitter certificate failed: the sketch tracked only " +
        s"${candidates.size} candidates (< k=$k) over $nTotal rows — the " +
        s"distribution is too flat for $counters counters; increase `counters`")

    // pass 2: exact recount of candidates only (broadcast semi-join —
    // the corpus side never exchanges on the full key space)
    val candDf = candidates.toDF("key")
    val exact = keyed
      .join(broadcast(candDf), Seq("key"), "left_semi")
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"))

    // top-k over ≤`counters` rows (TakeOrdered, no extra exchange),
    // then the per-row exactness certificate
    exact
      .orderBy(col("n").desc, col("key").asc)
      .limit(k)
      .select(col("key"),
        when(col("n") * (counters + 1L) > lit(nTotal), col("n"))
          .otherwise(F.raise_error(concat(
            lit(s"heavy-hitter certificate failed: count="), col("n"),
            lit(s" * ${counters + 1} <= N=$nTotal — the true top-$k is not " +
              s"provable with $counters counters; increase `counters`")))
            .cast("long"))
          .as("n"))
  }
}
