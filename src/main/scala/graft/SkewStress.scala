package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Hot-KEY stress: the scale axis the uniform Amplify sweeps cannot
  * exercise. Amplify's ×N copies keep every key's share constant, so
  * the ×16/×64 sweeps prove volume-linearity but say nothing about the
  * 100-TB failure mode where ONE key (a crawler-loop URL, a bot user,
  * a default-value FK) owns a double-digit share of all rows and
  * serializes a single reducer. This main plants exactly that shape —
  * `hotPct`% of an amplified fact table remapped onto one key — and
  * measures the engine's three answers to it side by side:
  *
  *   - join_big_aqe: shuffle join of the skewed probe side against a
  *                  SAME-SIZE-CLASS right table, handled by AQE's
  *                  skew-split (`GraftSession` enables it) — the
  *                  default path a user gets for free, and the only
  *                  sane one at this right-side size (a salted twin
  *                  was measured ~9× worse — see joinBigAqe);
  *   - join_plain / join_salted: the same skewed probe side against a
  *                  modest right slice — `Skew.saltedJoin`'s actual
  *                  contract (right side too big to broadcast blindly,
  *                  small enough that ×salt replication is cheap, for
  *                  when AQE cannot see the skew because it
  *                  materializes mid-pipeline after the stats);
  *   - agg_plain:   groupBy over the hot key — partial aggregation
  *                  (map-side combine) already bounds the hot
  *                  reducer's input to one partial per map task, the
  *                  reason algebraic aggs need no salting at all;
  *   - agg_salted:  `Skew.saltedAgg` on the same shape (the two-stage
  *                  form for when the PARTIAL state itself is heavy);
  *   - sessionize_hot: the window-family path — per-key event-time
  *                  sort where the hot user's whole history lands in
  *                  one sort partition; completion under a small heap
  *                  proves the sort spills instead of OOMing.
  *
  * Equality is asserted IN-BAND at stress scale: the plain and salted
  * arms must produce identical grouped results (checksummed), so the
  * timing record doubles as a correctness certificate for the salted
  * rewrites on data 16× past the oracle gate.
  *
  * Spill evidence is MEASURED, not inferred: a SparkListener sums
  * memory/disk bytes spilled per arm — the constrained-heap run
  * (SPARK_DRIVER_MEM=4g) should show nonzero spill with every arm
  * still completing and equal, i.e. memory pressure degrades to disk,
  * never to failure.
  *
  * Usage (after `graft.Amplify <sf0.1> <dir> 16 orders,lineitem` and
  * `graft.Amplify <sf0.1> <dir> 64 events`):
  *   SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=24g \
  *     sbt 'runMain graft.SkewStress <dir> <skewDir> 30 16'
  * The 4th arg is the orders/lineitem AMPLIFICATION factor (default
  * 16) — it sizes the contract-shaped right slice at the BASE key
  * span (orders.count / factor); a fixture amplified at a different
  * factor must pass its own factor or the join_plain/join_salted
  * comparison silently mis-sizes.
  * Prints one JSON line: arms (min-of-3 sec), spill bytes, hot shares,
  * equality verdicts, CPU/IO sentinel pair.
  */
object SkewStress {

  private final class SpillTally extends SparkListener {
    @volatile var mem: Long = 0L
    @volatile var disk: Long = 0L
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) { mem += m.memoryBytesSpilled; disk += m.diskBytesSpilled }
    }
    def reset(): Unit = { mem = 0L; disk = 0L }
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/tmp/graft_skew_src"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_skew"
    val hotPct = if (args.length > 2) args(2).toInt else 30
    require(hotPct > 0 && hotPct < 100, s"hotPct in (0,100): $hotPct")
    val ampFactor = if (args.length > 3) args(3).toInt else 16
    require(ampFactor >= 1, s"amplification factor must be >= 1: $ampFactor")
    val spark = Harness.session()
    val tally = new SpillTally
    spark.sparkContext.addSparkListener(tally)

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")

    // ---- plant the hot keys (setup, untimed) --------------------------
    // The remap hash rides row identity (orderkey+linenumber / event_id),
    // not the key alone: remapping whole keys would move entire groups
    // and leave the survivor keys' shares intact — row-level remapping
    // concentrates rows from EVERY key onto the hot one, the bot-user /
    // crawler-loop shape.
    val li0 = read("lineitem")
    val hotOrder = li0.agg(min(col("l_orderkey"))).collect()(0).getLong(0)
    li0.withColumn("l_orderkey",
        when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(100))
          < hotPct, lit(hotOrder)).otherwise(col("l_orderkey")))
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")

    val ev0 = read("events")
    val hotUser = ev0.agg(min(col("user_id"))).collect()(0).getLong(0)
    ev0.withColumn("user_id",
        when(pmod(xxhash64(col("event_id")), lit(100)) < hotPct, lit(hotUser))
          .otherwise(col("user_id")))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    val li = spark.read.parquet(s"$dst/lineitem.parquet")
    // events.ts needs the same NTZ→session-tz normalization every
    // events consumer gets (SparkEntry.t) — sessionize's unix_micros
    // rejects TIMESTAMP_NTZ outright
    val ev = SparkEntry.t(spark, dst, "events")
    val orders = read("orders")
    val liRows = li.count(); val evRows = ev.count()
    val hotLiRows = li.filter(col("l_orderkey") === hotOrder).count()
    val hotEvRows = ev.filter(col("user_id") === hotUser).count()
    System.err.println(
      f"[skew] lineitem $liRows rows, hot key $hotLiRows (${100.0 * hotLiRows / liRows}%.1f%%); " +
        f"events $evRows rows, hot user $hotEvRows (${100.0 * hotEvRows / evRows}%.1f%%)")

    // ---- arms ----------------------------------------------------------
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Big-right arm: the skewed probe side against the FULL amplified
    // orders table (same size class as lineitem) — the shape where the
    // ONLY sane answer is AQE's skew-split, and a first measurement
    // proved it: saltedJoin here replicates a 9.6M-row right side
    // ×saltBuckets through the shuffle and measured ~9× WORSE (50 s vs
    // 5.4 s) — the scaladoc's "small-ish right side" contract enforced
    // by economics. No salted twin for this arm, by that finding.
    // The aggregation AFTER each join keeps the noop sink from
    // absorbing join output cost asymmetrically (all arms reduce to
    // ≤5 rows).
    def joinBigAqe(): DataFrame =
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))

    // Contract-shaped pair: the same skewed 9.6M-row probe side
    // against a base-span right slice (600k rows — too big to be an
    // obviously-free broadcast at real scale, small enough that
    // ×saltBuckets replication is cheap). Amplify keeps copy 0 on the
    // original key span, so the slice still contains the hot key and
    // every copy-0 FK.
    val baseSpan = hotOrder + orders.count() / ampFactor // base key span
    val ordSlice = orders.filter(col("o_orderkey") < baseSpan)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))

    def joinPlain(): DataFrame =
      li.select(col("l_orderkey"), col("l_quantity"))
        .join(ordSlice, "l_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))

    def joinSalted(): DataFrame =
      Skew.saltedJoin(
          li.select(col("l_orderkey"), col("l_quantity")),
          ordSlice, Seq("l_orderkey"), saltBuckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))

    def aggPlain(): DataFrame =
      ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))

    def aggSalted(): DataFrame =
      Skew.saltedAgg(ev, Seq("user_id"), saltBuckets = 16,
        partials = Seq("__n" -> count(lit(1))),
        merges = Seq("n" -> sum(col("__n"))))

    def sessionizeHot(): DataFrame =
      graft.operators.Sessionize.sessionStats(
        ev.filter(col("ts").isNotNull), keyCols = Seq("user_id"),
        tsCol = "ts", gapMs = 30L * 60 * 1000,
        valueCol = "value", tieBreak = Seq("event_id"))

    // ---- in-band equality at stress scale ------------------------------
    // join arms: ≤5 grouped rows — collect and compare exactly
    // (quantities are integer-valued doubles; sums are order-exact).
    val jp = joinPlain().collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val js = joinSalted().collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val joinEqual = jp == js
    // agg arms: millions of groups — compare a commutative checksum of
    // (user_id, n) plus the group count, computed distributed. The
    // per-row hash is folded into a 36-bit space before the sum: ANSI
    // mode makes a long-overflowing sum THROW, and millions of full
    // 64-bit hashes overflow immediately (2^36 × ≤2^23 groups < 2^63).
    def aggSig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(pmod(xxhash64(col("user_id"), col("n")), lit(1L << 36)))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val aggEqual = aggSig(aggPlain()) == aggSig(aggSalted())
    require(joinEqual, s"saltedJoin diverged from the plain join at stress scale: $jp vs $js")
    require(aggEqual, "saltedAgg diverged from the plain groupBy at stress scale")

    // ---- timed arms (Harness.trial, inside one probe pair) ------------
    val arms: Seq[(String, () => DataFrame)] = Seq(
      "join_big_aqe" -> (() => joinBigAqe()),
      "join_plain" -> (() => joinPlain()),
      "join_salted" -> (() => joinSalted()),
      "agg_plain" -> (() => aggPlain()),
      "agg_salted" -> (() => aggSalted()),
      "sessionize_hot" -> (() => sessionizeHot()))
    // spill is counted over the measured trials only. listenerBus is
    // private[spark]; task-end events post within milliseconds of the
    // job returning — a short grace beats reflection into Spark
    // internals for a diagnostic counter. The grace before the tally
    // reset keeps the warm-up's (or the previous arm's) straggling
    // events out of this arm; the one after lets this arm's land.
    val (measured, sentinelJson) = Harness.bracketed(arms.map { case (name, mk) =>
      val (t, _) = Harness.trial(spark,
        measuring = () => { Thread.sleep(1000); tally.reset() })(noop(mk()))
      Thread.sleep(1000)
      (name, t, tally.mem, tally.disk)
    })

    val armsJson = measured.map { case (n, t, _, _) => f""""$n":$t%.3f""" }.mkString(",")
    val spillJson = measured.map { case (n, _, m, dk) =>
      s""""$n":{"mem":$m,"disk":$dk}""" }.mkString(",")
    println(
      f"""{"metric":"skew_stress","hot_pct":$hotPct,"src":"$src","heap":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",""" +
        f""""lineitem_rows":$liRows,"hot_join_rows":$hotLiRows,"events_rows":$evRows,"hot_user_rows":$hotEvRows,""" +
        f""""arms":{$armsJson},"spill_bytes":{$spillJson},""" +
        f""""join_equal":$joinEqual,"agg_equal":$aggEqual,$sentinelJson}""")
    spark.stop()
  }
}
