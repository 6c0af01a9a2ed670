package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftkit.Bridge

/** Scale-safe GLOBAL window machinery — the ungrouped counterpart of
  * `Ctx`'s order-sensitive verbs (cumsum / lead / lag / rowNumber /
  * rank / order / rolling*).
  *
  * A partition-less `Window.orderBy(...)` funnels the whole frame
  * through ONE task; this module computes the same values with only
  * scale-shaped pieces:
  *
  *  - ordinal: range sort + RDD `zipWithIndex` ([[Binds.withIdx]]) —
  *    the pattern addRowNumber/slice/sampling already use;
  *  - running aggregates (cumsum's sum + null-poison max): the
  *    classic two-level prefix scan, in pure Spark SQL — a window
  *    PARTITIONED on the physical partition id for the
  *    within-partition prefix, plus per-partition offsets combined
  *    through a window over ≤ #partitions rows (metadata-scale — the
  *    one place a partition-less window is fine) and broadcast back;
  *  - lead/lag: an in-partition window over the IDX-contiguous
  *    layout (partitionBy physical-partition id) plus a broadcast
  *    patch of the ≤ 2·maxOffset·#partitions partition-edge rows —
  *    one exchange serves every offset (the shifted value rides in a
  *    struct so "row absent → default" and "row present with null →
  *    null" stay distinct, exactly the window semantics);
  *  - rank: distinct sort-keys with counts, EXCLUSIVE prefix-sum of
  *    the counts over the key order (the same two-level scan — the
  *    key frame can be corpus-sized for near-unique keys), null-safe
  *    join back: ties share the first peer's position;
  *  - order (row_number by an arbitrary key): a second sort + zip,
  *    joined back by row identity;
  *  - rolling width-w aggregates: each row's value exploded to the w
  *    ordinals it contributes to, one groupBy — w×N small rows
  *    through one shuffle, any aggregate, exact edge semantics.
  *
  * The sorted+indexed base is persisted (MEMORY_AND_DISK, released by
  * LRU like the dedup signature frames): every helper and the final
  * join read it, and the row-identity ordinals must be CONSISTENT
  * across those reads. */
private[graft] object GlobalWindows {

  // Fuse gates for the edge-patch construction, in ESTIMATED BYTES
  // (row count × schema default-size width — a row-count gate
  // under-protects wide/struct-heavy schemas: the edge frame is both
  // broadcast through the driver and buffered 2·m rows per task).
  // The edge gate is read from the session conf per materialize()
  // call so the GlobalWindowsSpec fallback seam is a scoped conf
  // set/unset, not mutable object state (which would be racy across
  // parallel suites). Limits: 64 MiB default for the edge frame (well
  // under any sane driver heap), 512 MiB for the total patch
  // contributions (each roll explodes the edge frame by its width
  // before the patch groupBy re-shrinks it).
  private[graft] val EdgeBytesKey = "spark.graft.globalWindows.fuseEdgeBytes"
  private val DefaultEdgeBytes: Long = 64L << 20
  private val ContribCapBytes: Long = 512L << 20

  /** Small-frame tier gate (r14): when the OPTIMIZER'S size estimate of
    * the input plan is at or under this many bytes, compute every call
    * with plain SQL window functions over ONE constant-key partition
    * instead of the distributed machinery. Rationale: the distributed
    * path costs a range sort + RDD zipWithIndex (two jobs + an
    * external-Row hop), a persist, one hash exchange per helper family
    * and a broadcast patch join — ~8 exchanges and a dozen jobs that
    * exist to avoid single-task windows AT SCALE; under a few tens of
    * MB a single task does the same work in one exchange, on any
    * cluster, strictly faster (sf0.1 measured 1.7 s → ~0.3 s). The
    * gate reads the PLAN estimate (free, no extra pass): parquet
    * sources estimate from file bytes, and un-estimable plans default
    * to Long.MaxValue — i.e. the tier only fires when Spark can PROVE
    * the input small, a big frame can never be mis-routed into one
    * task by a missing estimate (and plans holding a Generate or a
    * Join never take the tier, see [[materialize]]), and the threshold is deliberately a
    * couple orders of magnitude under an executor's memory. Same
    * adaptive-tier design as Dedup.connectedComponents' local
    * union-find crossover. 0 disables (the spec seam). */
  private[graft] val SmallFrameBytesKey = "spark.graft.globalWindows.smallFrameBytes"
  private val DefaultSmallFrameBytes: Long = 32L << 20

  sealed trait Call { def name: String }
  /** Running aggregate over the frame order (ROWS unbounded..current). */
  final case class RunningAgg(name: String, value: Column, fn: String) extends Call
  /** value of the row at ordinal+offset (lead>0, lag<0), in a struct. */
  final case class Shift(name: String, value: Column, offset: Int) extends Call
  /** 1-based position in the frame order. */
  final case class RowNum(name: String) extends Call
  /** SQL rank() by an arbitrary (possibly desc) key. */
  final case class Rank(name: String, sort: Column) extends Call
  /** row_number() by an arbitrary key (ties broken arbitrarily). */
  final case class OrderIdx(name: String, sort: Column) extends Call
  /** Trailing width-row aggregate over the frame order. */
  final case class Rolling(name: String, value: Column, fn: String, width: Int) extends Call

  /** Source column names a call's expression references, plus an
    * opacity flag (a raw-SQL `expr("...")` or a star cannot be
    * enumerated without a session) — lets addColumns detect a call
    * that reads a sibling column introduced earlier in the same verb
    * (which the shared single-pass materialization, resolved against
    * the pre-verb frame, can't see). Opaque trees must be treated as
    * referencing anything. */
  private[core] def callRefs(c: Call): (Seq[String], Boolean) = c match {
    case RunningAgg(_, v, _) => Bridge.refsOpaque(v)
    case Shift(_, v, _)      => Bridge.refsOpaque(v)
    case Rolling(_, v, _, _) => Bridge.refsOpaque(v)
    case Rank(_, k)          => Bridge.refsOpaque(k)
    case OrderIdx(_, k)      => Bridge.refsOpaque(k)
    case RowNum(_)           => (Nil, false)
  }

  private def aggOf(fn: String, c: Column): Column = fn match {
    case "sum" => F.sum(c)
    case "max" => F.max(c)
    case "min" => F.min(c)
    case "avg" => F.avg(c)
    case other => throw new IllegalArgumentException(s"GlobalWindows agg: $other")
  }

  /** Combine a prior-partitions offset with a within-partition running
    * value under window null semantics (nothing aggregated yet → null). */
  private def combine(fn: String, off: Column, run: Column): Column = fn match {
    case "sum" => when(off.isNull, run).when(run.isNull, off).otherwise(off + run)
    case "max" => when(off.isNull, run).when(run.isNull, off).otherwise(greatest(off, run))
    case "min" => when(off.isNull, run).when(run.isNull, off).otherwise(least(off, run))
    case other => throw new IllegalArgumentException(s"GlobalWindows combine: $other")
  }

  private val IDX = CrysFrame.IDX
  private val PID = "__gw_pid"

  /** Two-level prefix scan over `frame` (which carries a 0-based
    * contiguous `IDX` in its physical order): appends, for each
    * (outName, value, fn), the running aggregate over rows [0, idx]
    * (`exclusive` → [0, idx-1]). Only partition-ID-partitioned
    * windows touch the full frame; the cross-partition offsets flow
    * through a ≤ #partitions-row frame. */
  private def runningScan(frame: DataFrame,
                          aggs: Seq[(String, Column, String)],
                          exclusive: Boolean,
                          pidPrecomputed: Boolean = false): DataFrame = {
    // `pidPrecomputed`: the caller already stamped PID on the
    // IDX-contiguous layout (so the shift window's hash(PID) exchange
    // is reused here instead of re-deriving ids on a moved layout —
    // wOff's PID-ascending accumulation is only correct when PID order
    // matches IDX order, i.e. when ids come from the zipWithIndex
    // layout)
    val withPid =
      if (pidPrecomputed) frame
      else frame.withColumn(PID, F.spark_partition_id())
    val partAgg = withPid.groupBy(col(PID))
      .agg(aggs.head match { case (n, v, f) => aggOf(f, v).as(s"${n}_p") },
        aggs.tail.map { case (n, v, f) => aggOf(f, v).as(s"${n}_p") }: _*)
    // metadata-scale: ≤ #input-partitions rows through this window. The
    // constant (but non-foldable — a literal would be optimized away)
    // partition key keeps the plan single-partition WITHOUT tripping
    // WindowExec's "Moving all data to a single partition" WARN: that
    // warning must stay alive for USER-authored partition-less windows
    // over data-scale frames — exactly the defect class this module
    // exists to avoid — so the library cannot justify muting the
    // logger JVM-wide for its own intentional metadata-scale windows.
    val wOff = Window.partitionBy(pmod(col(PID), lit(1)))
      .orderBy(col(PID))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = partAgg.select(
      (col(PID) +: aggs.map { case (n, _, f) =>
        aggOf(f, col(s"${n}_p")).over(wOff).as(s"${n}_off") }): _*)
    val joined = withPid.join(broadcast(offs), Seq(PID))
    val wRun = Window.partitionBy(col(PID)).orderBy(col(IDX))
      .rowsBetween(Window.unboundedPreceding, if (exclusive) -1 else 0)
    aggs.foldLeft(joined) { case (d, (n, v, f)) =>
      d.withColumn(n, combine(f, col(s"${n}_off"), aggOf(f, v).over(wRun)))
    }.drop(((if (pidPrecomputed) Nil else Seq(PID)) ++
      aggs.map { case (n, _, _) => s"${n}_off" }): _*)
  }

  /** First/last `m` rows of every partition of the cached base, in one
    * narrow mapPartitions pass (≤ 2·m·#partitions rows) — the rare
    * imperative grab that beats any declarative derivation (an agg +
    * broadcast-join formulation costs three extra stages on a frame
    * this module often sees at metadata scale). */
  private def edgeRows(s: DataFrame, m: Int): DataFrame = {
    if (m <= 0)
      return s.sparkSession.createDataFrame(
        s.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
    val rdd = s.rdd.mapPartitions { it =>
      val head = new scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.Row](m)
      val tail = new java.util.ArrayDeque[org.apache.spark.sql.Row](m + 1)
      var n = 0L
      while (it.hasNext) {
        val row = it.next()
        if (n < m) head += row
        else {
          if (tail.size == m) tail.pollFirst()
          tail.addLast(row)
        }
        n += 1
      }
      import scala.jdk.CollectionConverters._
      head.iterator ++ tail.iterator.asScala
    }
    s.sparkSession.createDataFrame(rdd, s.schema)
  }

  /** Augment `df` with one helper column per call. Returns the
    * augmented frame plus every temporary column to drop once the
    * caller's expression has been applied. */
  def materialize(df: DataFrame, ordCols: Seq[Column],
                  calls: Seq[Call]): (DataFrame, Seq[String]) = {
    val smallBytes = df.sparkSession.conf
      .get(SmallFrameBytesKey, DefaultSmallFrameBytes.toString).toLong
    // A present-but-wrong estimate can still mis-route: the size-only
    // stats visitor passes Generate through at about the child's bytes
    // and models joins from multiplied child sizes, so a small scan that
    // explodes upstream would read as provably small. The tier also
    // requires the optimized plan to hold no row-multiplying operator.
    val plan = df.queryExecution.optimizedPlan
    val mayMultiplyRows = plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Generate => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
      case _ => false
    }
    if (smallBytes > 0 && !mayMultiplyRows && plan.stats.sizeInBytes <= smallBytes)
      return materializeSmall(df, ordCols, calls)
    val needsOrd = calls.exists {
      case _: Rank | _: OrderIdx => false
      case _ => true
    }
    val base = if (needsOrd) df.orderBy(ordCols: _*) else df
    // No library-side action ever consumes the returned frame, so there
    // is no point to pair an unpersist with — released by LRU eviction,
    // the same contract keepBestPerCluster/curriculumAssign document.
    val s = Binds.withIdx(base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var r = s

    val runs = calls.collect { case c: RunningAgg => c }
    val shifts = calls.collect { case c: Shift => c }
    val rolls = calls.collect { case c: Rolling => c }
    // PID is stamped ONCE, on the IDX-contiguous zipWithIndex layout —
    // the shift/rolling windows and the running scan all key on it, so
    // Spark plans a single hash(PID) exchange serving every call below
    val needsPid = runs.nonEmpty || shifts.nonEmpty || rolls.nonEmpty
    if (needsPid) r = r.withColumn(PID, F.spark_partition_id())

    // lead/lag and trailing-window rolling WITHOUT data-scale
    // self-joins: the PID groups are IDX-contiguous, so an
    // in-partition window over partitionBy(PID).orderBy(IDX) resolves
    // every row except those near a partition edge — for a shift,
    // targets within |offset| of the END (the source row then sits
    // < mEdge rows from ITS OWN partition's edge: distance from own
    // pmin ≤ o − rows-after-t − 1 < mEdge, symmetric for lag); for a
    // width-w rolling agg, targets within w−1 of the START (whose
    // ENTIRE trailing window provably lies within mEdge of some
    // partition edge). One boundary frame of the first/last mEdge rows
    // per partition — ≤ 2·mEdge·#partitions rows, metadata-scale for
    // the offsets/widths these verbs take — feeds ONE broadcast patch
    // carrying every shift offset's struct and every roll's
    // recomputed-from-edges aggregate (typed-null via when(false, v)
    // in the frames of other calls). Shift structs keep "row absent →
    // null struct → caller default" distinct from "row present, value
    // null"; rolling routes by in-partition row_number (< width →
    // patch), never coalesce, so legitimately-null window aggregates
    // survive.
    val wPid = Window.partitionBy(col(PID)).orderBy(col(IDX))
    val mEdge = (shifts.map(c => math.abs(c.offset)) ++
      rolls.map(_.width - 1)).foldLeft(0)(math.max)
    // two gates: the edge frame itself (broadcast + per-task buffer of
    // 2·mEdge rows), AND the total contribution volume the patch
    // groupBy sees — each roll explodes the edge frame by its width,
    // so a wide-window roll can blow up the contributions while the
    // edge frame stays small. Both gates are in estimated bytes:
    // rows × the schema's defaultSize width (the contribution frame
    // is narrower than the base — IDX + one column per call — so
    // using the base width there is conservative).
    val edgeCapBytes =
      df.sparkSession.conf.get(EdgeBytesKey, DefaultEdgeBytes.toString).toLong
    val rowBytes = math.max(8L, s.schema.fields.map(_.dataType.defaultSize.toLong).sum)
    val bndRows = 2L * mEdge * s.rdd.getNumPartitions
    val contribRows = bndRows * (shifts.map(_.offset).distinct.size +
      rolls.map(_.width.toLong).sum)
    val fuse = (shifts.nonEmpty || rolls.nonEmpty) &&
      bndRows * rowBytes <= edgeCapBytes && contribRows * rowBytes <= ContribCapBytes

    if (fuse) {
      val bnd = edgeRows(s, mEdge)
      // contribution frames share one schema: IDX + a __b column per
      // call; each frame fills only its own call's column
      def contribFrame(src: DataFrame, reKey: Column,
                       fillS: Shift => Boolean,
                       fillR: Rolling => Boolean): DataFrame =
        src.select((reKey.as(IDX) +:
          (shifts.map { c =>
            val v = struct(c.value.as("v"))
            (if (fillS(c)) v else when(lit(false), v)).as(s"${c.name}__b")
          } ++ rolls.map { c =>
            (if (fillR(c)) c.value else when(lit(false), c.value))
              .as(s"${c.name}__b")
          })): _*)
      val shiftFrames = shifts.map(_.offset).distinct.map { o =>
        contribFrame(bnd, col(IDX) - o, _.offset == o, _ => false)
      }
      val rollFrames = rolls.map { c =>
        contribFrame(
          bnd.withColumn("__gw_off", explode(sequence(lit(0), lit(c.width - 1)))),
          col(IDX) + col("__gw_off"), _ => false, _ eq c)
      }
      val contrib = (shiftFrames ++ rollFrames).reduce(_ union _)
      val aggs =
        shifts.map(c => F.first(col(s"${c.name}__b"), ignoreNulls = true)
          .as(s"${c.name}__b")) ++
        rolls.map(c => aggOf(c.fn, col(s"${c.name}__b")).as(s"${c.name}__b"))
      val patch = contrib.groupBy(col(IDX)).agg(aggs.head, aggs.tail: _*)
      val rnCol = "__gw_iprn"
      if (rolls.nonEmpty) r = r.withColumn(rnCol, F.row_number().over(wPid))
      r = shifts.foldLeft(r) { (d, c) =>
        val w = if (c.offset > 0) F.lead(struct(c.value.as("v")), c.offset)
                else F.lag(struct(c.value.as("v")), -c.offset)
        d.withColumn(c.name, w.over(wPid))
      }
      r = rolls.foldLeft(r) { (d, c) =>
        d.withColumn(c.name, aggOf(c.fn, c.value)
          .over(wPid.rowsBetween(-(c.width - 1).toLong, Window.currentRow)))
      }
      r = r.join(broadcast(patch), Seq(IDX), "left")
      r = shifts.foldLeft(r) { (d, c) =>
        d.withColumn(c.name, coalesce(col(c.name), col(s"${c.name}__b")))
      }
      r = rolls.foldLeft(r) { (d, c) =>
        d.withColumn(c.name,
          when(col(rnCol) < c.width, col(s"${c.name}__b")).otherwise(col(c.name)))
      }
      r = r.drop((shifts ++ rolls).map(c => s"${c.name}__b"): _*)
      if (rolls.nonEmpty) r = r.drop(rnCol)
    } else if (shifts.nonEmpty || rolls.nonEmpty) {
      // offsets/widths rivaling the rows-per-partition count would make
      // the boundary frame corpus-sized — fall back to one shuffled
      // join per distinct offset (same-offset shifts share one) and the
      // contribution explode + groupBy per roll
      shifts.groupBy(_.offset).toSeq.sortBy(_._1).foreach { case (o, cs) =>
        val b = s.select((col(IDX) - o).as(IDX) +:
          cs.map(c => struct(c.value.as("v")).as(c.name)): _*)
        r = r.join(b, Seq(IDX), "left")
      }
      rolls.foreach { case Rolling(n, v, fn, width) =>
        val contrib = s.select(col(IDX), v.as("__gw_v"))
          .withColumn("__gw_off", explode(sequence(lit(0), lit(width - 1))))
          .select((col(IDX) + col("__gw_off")).as(IDX), col("__gw_v"))
        val rolled = contrib.groupBy(col(IDX)).agg(aggOf(fn, col("__gw_v")).as(n))
        r = r.join(rolled, Seq(IDX), "left")
      }
    }

    if (runs.nonEmpty)
      r = runningScan(r, runs.map(c => (c.name, c.value, c.fn)),
        exclusive = false, pidPrecomputed = true)

    calls.foreach {
      case _: RunningAgg | _: Shift | _: Rolling => ()
      case RowNum(n) =>
        r = r.withColumn(n, (col(IDX) + 1).cast("int"))
      case Rank(n, sort) =>
        val (key, dir) = Bridge.sortSpec(sort)
        val kCol = s"${n}_k"
        val counts = s.select(key.as(kCol)).groupBy(col(kCol))
          .agg(F.count(lit(1)).as(s"${n}_cnt"))
        // persisted like the base: the scan reads it more than once and
        // the ordinals must be consistent across reads (and, like the
        // base, no in-library action to unpersist after — LRU-released)
        val sorted = Binds.withIdx(counts.orderBy(dir(col(kCol))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ranked = runningScan(sorted,
          Seq((s"${n}_pre", col(s"${n}_cnt"), "sum")), exclusive = true)
          .select(col(kCol),
            (coalesce(col(s"${n}_pre"), lit(0L)) + 1).cast("int").as(n))
        r = r.withColumn(kCol, key)
        r = r.join(ranked, r(kCol) <=> ranked(kCol), "left")
          .drop(ranked(kCol))
      case OrderIdx(n, sort) =>
        val (key, dir) = Bridge.sortSpec(sort)
        val rid = s"${n}_rid"
        val t = Binds.withIdx(
          s.select(col(IDX).as(rid), key.as(s"${n}_k")).orderBy(dir(col(s"${n}_k"))))
        r = r.join(
          t.select(col(rid).as(IDX), (col(IDX) + 1).cast("int").as(n)),
          Seq(IDX), "left")
    }

    val temps = (IDX +: (if (needsPid) Seq(PID) else Nil)) ++
      calls.collect { case Rank(n, _) => s"${n}_k" }
    (r, temps ++ calls.map(_.name))
  }

  /** The small-frame tier: every call as a plain SQL window function
    * over ONE constant-key partition ([[SmallFrameBytesKey]] gate).
    * Semantics are the distributed path's by construction:
    *  - running aggs / rolling: the same aggregate over the same
    *    ROWS frame in the same ordCols order;
    *  - shifts: lead/lag of the SAME value-struct (absent row → null
    *    struct → caller default; present-with-null stays a struct with
    *    a null field — the two-state contract Ctx unwraps);
    *  - row number: row_number() = ordinal + 1, int like the
    *    distributed cast;
    *  - rank: SQL rank() — ties share the first peer's position,
    *    exactly the distributed exclusive-prefix-sum formulation;
    *  - order idx: row_number() over the call's own key (ties
    *    arbitrary, as in the distributed second sort + zip).
    * The partition key is a materialized constant column (pmod of
    * spark_partition_id — non-foldable, same trick as runningScan), so
    * the plan keeps a real partition spec and WindowExec's
    * moving-all-data WARN stays meaningful for user-authored
    * partition-less windows. */
  private def materializeSmall(df: DataFrame, ordCols: Seq[Column],
                               calls: Seq[Call]): (DataFrame, Seq[String]) = {
    val ONE = "__gw_one"
    var r = df.withColumn(ONE, pmod(F.spark_partition_id(), lit(1)))
    val wBase = Window.partitionBy(col(ONE))
    lazy val wOrd = wBase.orderBy(ordCols: _*)
    calls.foreach {
      case RunningAgg(n, v, fn) =>
        r = r.withColumn(n, aggOf(fn, v).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      case Shift(n, v, o) =>
        val f = if (o > 0) F.lead(struct(v.as("v")), o)
                else F.lag(struct(v.as("v")), -o)
        r = r.withColumn(n, f.over(wOrd))
      case RowNum(n) =>
        r = r.withColumn(n, F.row_number().over(wOrd).cast("int"))
      case Rolling(n, v, fn, width) =>
        r = r.withColumn(n, aggOf(fn, v).over(
          wOrd.rowsBetween(-(width - 1).toLong, Window.currentRow)))
      case Rank(n, sort) =>
        val (key, dir) = Bridge.sortSpec(sort)
        r = r.withColumn(n, F.rank().over(wBase.orderBy(dir(key))).cast("int"))
      case OrderIdx(n, sort) =>
        val (key, dir) = Bridge.sortSpec(sort)
        r = r.withColumn(n,
          F.row_number().over(wBase.orderBy(dir(key))).cast("int"))
    }
    (r, ONE +: calls.map(_.name))
  }
}
