package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation building blocks for hot keys at cluster scale.
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`)
  * covers sort-merge joins at runtime; these helpers cover the cases
  * AQE does not: skewed AGGREGATIONS (one giant group serializing into
  * one reducer) and broadcast-infeasible skewed joins.
  */
object Skew {

  /** Two-stage salted aggregation: rows are spread over `saltBuckets`
    * sub-keys, partially aggregated, then re-aggregated per real key.
    * Use for algebraic aggregates (sum/count/min/max) when one key
    * holds a large share of all rows — turns one hot reducer into
    * `saltBuckets` parallel ones at the cost of a second (tiny)
    * shuffle.
    *
    * @param partials (outName → partial agg over input rows)
    * @param merges   (outName → merge agg over the partial columns)
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltBuckets: Int,
                partials: Seq[(String, Column)],
                merges: Seq[(String, Column)]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val stage1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partials.head._2.as(partials.head._1),
        partials.tail.map { case (n, c) => c.as(n) }: _*)
    stage1
      .groupBy(keys.map(col): _*)
      .agg(merges.head._2.as(merges.head._1),
        merges.tail.map { case (n, c) => c.as(n) }: _*)
  }

  /** Convenience salted count per key. */
  def saltedCount(df: DataFrame, keys: Seq[String], saltBuckets: Int = 16): DataFrame =
    saltedAgg(df, keys, saltBuckets,
      partials = Seq("__n" -> count(lit(1))),
      merges = Seq("n" -> sum(col("__n"))))

  /** Salted join for a skewed LEFT side against a small-ish right side
    * that is still too big to broadcast whole: left rows get a random
    * salt in [0, saltBuckets), the right side is replicated once per
    * salt value, and the join key becomes (key, salt) — the hot key's
    * rows land on `saltBuckets` different reducers.
    * Right-side cost: × saltBuckets rows through the shuffle.
    *
    * Only join types that never EMIT unmatched right rows are sound:
    * the right side is replicated once per salt bucket, so a `right` or
    * `full_outer` join would emit each unmatched right row saltBuckets
    * times. Rejected up front.
    *
    * The "small-ish right side" contract is ENFORCED, not just
    * documented: the r11 hot-key stress measured the out-of-contract
    * shape (9.6M-row right × 16 buckets = 154M replicated rows through
    * the shuffle) at ~9× WORSE than letting AQE's skew-split handle
    * the plain join (sweeps/r11_stress_skew.json), while the
    * in-contract shape (600k × 8 = 4.8M) beats the plain formulation.
    * Before salting, one `count()` on the right side (it is small-ish
    * by contract, so the scan is cheap) checks
    * `rightRows × saltBuckets ≤ replicationBudget`; over budget raises
    * with the measured economics spelled out — a plan-time error
    * instead of a silent 9× regression hours into a 100-TB run. Pass
    * `replicationBudget = 0` to skip the guard when the caller has
    * already priced the replication (the guard-skip convention shared
    * with embeddingDedup's bucketBudget). The default 32M sits ~7×
    * above the measured-good point and ~5× below the measured-bad
    * one. */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 saltBuckets: Int = 8, joinType: String = "inner",
                 replicationBudget: Long = 32L * 1000 * 1000): DataFrame = {
    val allowed = Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "semi", "left_anti", "leftanti", "anti")
    require(allowed.contains(joinType.toLowerCase.replace(" ", "")),
      s"saltedJoin supports inner/left/left_semi/left_anti joins only " +
        s"(got '$joinType'): replicating the right side per salt bucket " +
        s"would duplicate unmatched right rows")
    // Guard economics (r12 ADVICE): the guard's count() used to
    // re-execute the right side's full lineage ON TOP of the join —
    // for the documented use case (right side materializes
    // mid-pipeline) that doubled the right-side compute per call. Read
    // the row count from plan STATISTICS only when the plan is a
    // LocalRelation — the one source whose rowCount is EXACT by
    // construction (r13 ADVICE: CBO stats from an ANALYZEd table can
    // be stale, and a right side that grew since the last ANALYZE
    // would slip under the budget the count() would have refused);
    // otherwise persist the right side so the guard count and the join
    // read ONE materialization. The persist is sized by the contract
    // itself (small-ish right side ≤ budget/saltBuckets rows); note it
    // OUTLIVES this call on the success path — it ages out by LRU like
    // every library persist, but a caller that owns the frame and
    // wants it released sooner unpersists after the join's action. A
    // refused join releases it before raising.
    val guardedRight =
      if (replicationBudget <= 0) right
      else right.queryExecution.optimizedPlan match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          checkReplication(lr.data.length.toLong, saltBuckets,
            replicationBudget)
          right
        case _ => graft.core.Persisted.keeping { hold =>
          val p = hold(right)
          checkReplication(p.count(), saltBuckets, replicationBudget)
          p
        }
      }
    val l = left.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)).cast("int"))
    val r = guardedRight.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    l.join(r, keys :+ "__salt", joinType).drop("__salt")
  }

  private def checkReplication(rightRows: Long, saltBuckets: Int,
                               replicationBudget: Long): Unit = {
    val replicated = rightRows * saltBuckets
    if (replicated > replicationBudget)
      throw new IllegalArgumentException(
        s"saltedJoin: right side holds $rightRows rows — × $saltBuckets " +
          s"salt buckets = $replicated replicated rows through the " +
          s"shuffle, over replicationBudget=$replicationBudget. At this " +
          "size the salted rewrite was measured ~9× WORSE than a plain " +
          "shuffle join under AQE skew-split (r11 hot-key stress): drop " +
          "the salting and let AQE handle it, shrink the right side " +
          "first, lower saltBuckets, or pass replicationBudget=0 to " +
          "accept the replication cost knowingly.")
  }
}
