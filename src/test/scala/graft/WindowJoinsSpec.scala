package graft

import graft.core.CrysFrame
import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._

/** Window-verb semantics (reference: spec/column_spec.cr) and join
  * semantics (reference: spec/joins_spec.cr). */
class WindowJoinsSpec extends GraftSpec {

  /** reference: spec/column_spec.cr:61-79 — grouped cumsum, NA poisons
    * the remainder of each group's vector. */
  test("grouped cumsum with NA poison") {
    val sales = CrysFrame.of(spark, Seq("product", "sales", "ord"),
      Seq(Seq("a", 10.0, 1), Seq("a", 20.0, 2), Seq("a", null, 3), Seq("a", 5.0, 4),
        Seq("b", 1.0, 1), Seq("b", 2.0, 2)))
    val f = sales.groupBy("product").sortBy("ord")
      .addColumn("cum")(c => c.cumsum(c("sales")))
      .ungroup.sortBy("product", "ord")
    val got = f.out.select("cum").collect()
      .map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq
    assert(got == Seq(10.0, 30.0, null, null, 1.0, 3.0))
  }

  /** reference: spec/column_spec.cr:81-104 */
  test("pct_change") {
    val f = CrysFrame.of(spark, Seq("x", "ord"),
      Seq(Seq(10.0, 1), Seq(20.0, 2), Seq(5.0, 3)))
      .sortBy("ord").addColumn("chg")(c => c.pctChange(c("x")))
    val got = f.out.orderBy("ord").select("chg").collect()
      .map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq
    assert(got == Seq(null, 1.0, -0.75))
  }

  /** reference: spec/column_spec.cr:127-191 — grouped lead/lag with defaults */
  test("grouped lead/lag with fill defaults") {
    val q = CrysFrame.of(spark, Seq("quarter", "sales", "store"),
      Seq(Seq(1, 10, "a"), Seq(2, 20, "a"), Seq(3, 30, "a"),
        Seq(1, 100, "b"), Seq(2, 200, "b")))
    val f = q.groupBy("store").sortBy("quarter")
      .addColumns(
        "prev" -> (c => c.lag(c("sales"), 1, -1)),
        "next" -> (c => c.lead(c("sales"))))
      .ungroup.sortBy("store", "quarter")
    val rows = f.out.collect()
    assert(rows.map(_.getInt(3)).toSeq == Seq(-1, 10, 20, -1, 100))
    assert(rows.map(r => if (r.isNullAt(4)) null else r.getInt(4)).toSeq ==
      Seq(20, 30, null, 200, null))
  }

  // --- joins (reference: spec/joins_spec.cr) ---

  private def persons = CrysFrame.of(spark, Seq("first_name", "last_name", "age"),
    Seq(Seq("max", "smith", 53), Seq("tom", "doe", 30), Seq("eva", "miller", 23)))
  private def weights = CrysFrame.of(spark, Seq("first", "last", "weight"),
    Seq(Seq("max", "smith", 56.3), Seq("tom", "doe", null), Seq("anna", "doe", 75.3)))

  test("unequal-key join pairs (reference: spec/joins_spec.cr:104-111)") {
    val j = persons.innerJoin(weights,
      byPairs = Seq("first_name" -> "first", "last_name" -> "last"))
    assert(j.numRow == 2)
    assert(j.names.contains("weight"))
  }

  test("left join NA-fills right side") {
    val j = persons.leftJoin(weights,
      byPairs = Seq("first_name" -> "first", "last_name" -> "last"))
    assert(j.numRow == 3)
    val eva = j.out.filter(col("first_name") === "eva").collect()(0)
    assert(eva.isNullAt(eva.fieldIndex("weight")))
  }

  test("outer join keeps both sides") {
    val j = persons.outerJoin(weights,
      byPairs = Seq("first_name" -> "first", "last_name" -> "last"))
    assert(j.numRow == 4)
  }

  test("semi join filters without duplicating or suffixing") {
    val dup = weights.bindRows(weights) // duplicate right keys
    val j = persons.semiJoin(
      dup.rename("first" -> "first_name", "last" -> "last_name"),
      by = Seq("first_name", "last_name"))
    assert(j.numRow == 2)
    assert(j.names == persons.names)
  }

  test("anti join is the complement of semi") {
    val j = persons.antiJoin(
      weights.rename("first" -> "first_name", "last" -> "last_name"),
      by = Seq("first_name", "last_name"))
    assert(j.out.collect().map(_.getString(0)).toSeq == Seq("eva"))
  }

  test("suffixing of common non-key columns (reference: joins_spec.cr:79-102)") {
    val a = CrysFrame.of(spark, Seq("k", "v"), Seq(Seq("x", 1)))
    val b = CrysFrame.of(spark, Seq("k", "v"), Seq(Seq("x", 2)))
    val j = a.innerJoin(b, by = Seq("k"))
    assert(j.names.toSet == Set("k", "v.x", "v.y"))
  }

  test("empty-by join degenerates to cross product (reference: joins_spec.cr:96-125)") {
    val a = CrysFrame.of(spark, Seq("x"), Seq(Seq(1), Seq(2), Seq(3)))
    val b = CrysFrame.of(spark, Seq("y"), Seq(Seq("p"), Seq("q")))
    assert(a.innerJoin(b, by = Seq()).numRow == 6)
  }

  test("natural join defaults to name intersection (reference: joins_spec.cr:59-61)") {
    val a = CrysFrame.of(spark, Seq("k", "a"), Seq(Seq("x", 1), Seq("y", 2)))
    val b = CrysFrame.of(spark, Seq("k", "b"), Seq(Seq("x", 10)))
    assert(a.innerJoin(b).numRow == 1)
  }

  test("joins against an empty left side (reference: joins_spec.cr:147-172)") {
    val user = CrysFrame.of(spark, Seq("first_name", "last_name", "age", "weight"),
      Seq(Seq("Max", "Doe", 23, 55)))
    val pets = CrysFrame.of(spark, Seq("first_name", "pet"),
      Seq(Seq("Max", "Cat"), Seq("Franz", "Dog")))
    val none = user.filter(c => c("first_name") === "Hans")
    val left = none.leftJoin(pets, by = Seq("first_name"))
    assert(left.numRow == 0)
    assert(left.names == Seq("first_name", "last_name", "age", "weight", "pet"))
    val outer = none.outerJoin(pets, by = Seq("first_name"))
    assert(outer.names == Seq("first_name", "last_name", "age", "weight", "pet"))
    assert(outer.numRow == 2)
    assert(outer.out.collect().map(_.getString(0)).toSet == Set("Max", "Franz"))
  }

  // --- as-of join ---

  test("as-of join picks latest right row at-or-before left ts") {
    import spark.implicits._
    val left = Seq((1L, "u1", 10L), (2L, "u1", 25L), (3L, "u2", 5L))
      .toDF("id", "u", "t")
    val right = Seq(("u1", 10L, "a"), ("u1", 20L, "b"), ("u2", 50L, "c"))
      .toDF("u", "t", "v")
    val j = AsOfJoin.join(left, right, Seq("u"), "t", Seq("v" -> "last_v"))
      .orderBy("id").collect()
    assert(j.map(r => Option(r.getAs[String]("last_v")).orNull).toSeq ==
      Seq("a", "b", null))
  }

  test("as-of join SQL edge semantics: matched row travels as a unit, nulls never match") {
    import spark.implicits._
    // the matched right row (t=2) has a null in payload `a` — that null
    // must NOT fall back to the older row's a=1 (DuckDB returns the
    // matched row as a unit)
    val left = Seq((1L, "u", 3L)).toDF("id", "u", "t")
    val right = Seq(("u", 1L, Some(1), 10), ("u", 2L, None, 20))
      .toDF("u", "t", "a", "b")
    val unit = AsOfJoin.join(left, right, Seq("u"), "t",
      Seq("a" -> "a", "b" -> "b")).collect()(0)
    assert(unit.isNullAt(unit.fieldIndex("a")) && unit.getAs[Int]("b") == 20)
    // a null-ts right row is never a match; a null-key left row matches nothing
    val left2 = CrysFrame.of(spark, Seq("id", "u", "t"),
      Seq(Seq(1L, "u", 5L), Seq(2L, null, 5L))).out
    val right2 = CrysFrame.of(spark, Seq("u", "t", "v"),
      Seq(Seq("u", null, 99), Seq(null, 1L, 77))).out
    val rows = AsOfJoin.join(left2, right2, Seq("u"), "t", Seq("v" -> "v"))
      .orderBy("id").collect()
    assert(rows.forall(_.isNullAt(rows(0).fieldIndex("v"))))
  }

  test("batch sessionize: strict-gap boundary, ties, and shared window sort") {
    import spark.implicits._
    import graft.operators.Sessionize
    val base = 1700000000000L
    def t(sec: Long) = new java.sql.Timestamp(base + sec * 1000)
    val df = Seq(
      (1L, t(0), 1L, 1.0),
      (2L, t(1800), 1L, 2.0),        // exactly gapMs later: SAME session
      (3L, t(1800 + 1801), 1L, 3.0), // gap + 1s: new session
      (4L, t(0), 2L, 5.0),
      (5L, t(0), 2L, 6.0))           // equal ts: event_id tiebreak, one session
      .toDF("event_id", "ts", "user_id", "value")
    val assigned = Sessionize.assignSessions(df, Seq("user_id"), "ts",
      gapMs = 30 * 60 * 1000L, tieBreak = Seq("event_id"))
      .select("event_id", "session_index").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 0L))
    val stats = Sessionize.sessionStats(df, Seq("user_id"), "ts",
      gapMs = 30 * 60 * 1000L, valueCol = "value", tieBreak = Seq("event_id"))
    val rows2 = stats.orderBy("user_id", "session_index").collect()
    assert(rows2.length == 3)
    val s0 = rows2(0) // user 1 session 0: events 1+2
    assert(s0.getAs[Long]("n_events") == 2 && s0.getAs[Double]("sum_value") == 3.0)
    assert(s0.getAs[Long]("end_s") - s0.getAs[Long]("start_s") == 1800L)
    val s2 = rows2(2) // user 2: both tied events in ONE session
    assert(s2.getAs[Long]("n_events") == 2 && s2.getAs[Double]("sum_value") == 11.0)
    // plan shape: lag + running sum share ONE sort over ONE exchange,
    // and the stats aggregation reuses that partitioning (grouping on
    // (user_id, session_index) is co-located by hashpartitioning
    // (user_id)) — the whole operator costs a single shuffle
    val plan = stats.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    val sorts = "\\bSort \\[".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n${plan.take(2000)}")
    assert(sorts == 1, s"expected 1 sort, got $sorts:\n${plan.take(2000)}")
  }

  test("range join: binned point-in-interval, no nested-loop, sizing guard") {
    import spark.implicits._
    import graft.operators.RangeJoin
    val points = Seq((1L, "a", 50L), (2L, "a", 150L), (3L, "a", 250L),
      (4L, "b", 50L), (5L, "a", 100L)).toDF("pid", "k", "p")
    // interval [40,160] spans bins 0-1 at width 100; [100,100] is a
    // point-interval; [0,49] tests the exclusive variant below
    val ivs = Seq((10L, "a", 40L, 160L), (11L, "a", 100L, 100L),
      (12L, "b", 0L, 49L), (13L, "a", 240L, 260L)).toDF("iid", "k", "lo", "hi")
    val j = RangeJoin.pointInInterval(points, "p", ivs, "lo", "hi",
      by = Seq("k"), binWidth = 100L)
    val got = j.select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pid 1 (a,50) ∈ [40,160]; pid 5 (a,100) ∈ [40,160] AND [100,100];
    // pid 2 (a,150) ∈ [40,160]; pid 3 (a,250) ∈ [13's 240,260];
    // pid 4 (b,50) ∉ [0,49] (inclusive hi, 50 > 49)
    assert(got == Set((1L, 10L), (5L, 10L), (5L, 11L), (2L, 10L), (3L, 13L)))
    // exclusive-hi drops the hi boundary
    val excl = RangeJoin.pointInInterval(points, "p", ivs, "lo", "hi",
      by = Seq("k"), binWidth = 100L, inclusiveHi = false)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!excl.contains((5L, 11L)) && excl.contains((5L, 10L)))
    // plan: equi-join on (key, bin) — never a nested loop or cartesian
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(1500))
    // a mis-sized interval (1e9 bins) raises the descriptive guard
    val huge = Seq((20L, "a", 0L, 100L * 1000000000L)).toDF("iid", "k", "lo", "hi")
    val e = intercept[Exception](RangeJoin.pointInInterval(points, "p", huge,
      "lo", "hi", by = Seq("k"), binWidth = 100L).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("Raise binWidth")), msgs(e).mkString(" | "))
    // inverted and null bounds match nothing rather than exploding
    val bad = Seq((30L, "a", 200L, 100L)).toDF("iid", "k", "lo", "hi")
    assert(RangeJoin.pointInInterval(points, "p", bad, "lo", "hi",
      by = Seq("k"), binWidth = 100L).count() == 0)
  }

  test("interval-overlap join: exactly-once pairs, boundary semantics, guard") {
    import spark.implicits._
    import graft.operators.RangeJoin
    val l = Seq((1L, "a", 0L, 250L), (2L, "a", 300L, 310L), (3L, "b", 0L, 10L))
      .toDF("lid", "k", "llo", "lhi")
    val r = Seq((10L, "a", 240L, 400L), (11L, "a", 260L, 290L), (12L, "b", 10L, 20L),
      (13L, "a", 500L, 600L)).toDF("rid", "k", "rlo", "rhi")
    val j = RangeJoin.intervalOverlap(l, "llo", "lhi", r, "rlo", "rhi",
      by = Seq("k"), binWidth = 100L)
    val got = j.select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1)))
    // lid 1 [0,250] overlaps rid 10 [240,400] (spans MANY shared bins —
    // must pair exactly once); lid 2 [300,310] ⊂ [240,400]; lid 3
    // touches rid 12 at 10 (closed ends); nothing meets rid 11 or 13
    assert(got.sorted.toSeq == Seq((1L, 10L), (2L, 10L), (3L, 12L)), got.mkString(","))
    // half-open: the touching pair disappears, overlapping ones stay
    val open = RangeJoin.intervalOverlap(l, "llo", "lhi", r, "rlo", "rhi",
      by = Seq("k"), binWidth = 100L, inclusiveEnds = false)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(open == Set((1L, 10L), (2L, 10L)), open.mkString(","))
    // plan: equi-join on (key, bin), no dedup aggregation, no nested loop
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(1500))
    // the span guard fires on either side
    val huge = Seq((20L, "a", 0L, 100L * 1000000000L)).toDF("rid", "k", "rlo", "rhi")
    val e = intercept[Exception](RangeJoin.intervalOverlap(l, "llo", "lhi",
      huge, "rlo", "rhi", by = Seq("k"), binWidth = 100L).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("Raise binWidth")), msgs(e).mkString(" | "))
    // inverted/null intervals match nothing
    val bad = Seq((30L, "a", 200L, 100L)).toDF("rid", "k", "rlo", "rhi")
    assert(RangeJoin.intervalOverlap(l, "llo", "lhi", bad, "rlo", "rhi",
      by = Seq("k"), binWidth = 100L).count() == 0)
    // an EMPTY half-open interval [x, x) overlaps nothing (review
    // finding: the overlap predicate alone would have matched it)
    val empty = Seq((40L, "a", 100L, 100L)).toDF("rid", "k", "rlo", "rhi")
    assert(RangeJoin.intervalOverlap(l, "llo", "lhi", empty, "rlo", "rhi",
      by = Seq("k"), binWidth = 100L, inclusiveEnds = false).count() == 0)
    // …but under CLOSED ends [x, x] is a point and does match
    assert(RangeJoin.intervalOverlap(l, "llo", "lhi", empty, "rlo", "rhi",
      by = Seq("k"), binWidth = 100L, inclusiveEnds = true).count() == 1)
  }

  test("deterministic sampling: stable hash splits and weight-proportional draws") {
    import spark.implicits._
    import graft.ml.Sampling
    val docs = (1L to 2000L).map(i => (i, 10L + i % 90)).toDF("id", "w")
    val split = Sampling.hashSplit(docs, "id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    // fractions land near their targets (hash uniformity)
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 1800L) < 60, counts.toString)
    assert(counts("val") > 50 && counts("test") > 50, counts.toString)
    // content-stable: the assignment of id 7 is a pure function of the
    // id — unchanged when OTHER rows are dropped
    val sub = Sampling.hashSplit(docs.filter(col("id") < 100), "id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val full7 = split.filter(col("id") === 7).select("split").collect()(0).getString(0)
    val sub7 = sub.filter(col("id") === 7).select("split").collect()(0).getString(0)
    assert(full7 == sub7)
    // map-only: no exchange anywhere in the split plan
    val plan = split.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1200))
    // weighted draws: 10x weight ⇒ ~10x selection rate (two-point
    // weight mix, 200 draws of 2000 rows — expect ~10:1 ratio, loose
    // band so the test is seed-robust but a uniform sampler fails)
    val mix = (1L to 2000L).map(i => (i, if (i % 2 == 0) 100L else 10L))
      .toDF("id", "w").withColumn("g", lit(1))
    val picked = Sampling.weightedSample(mix, Seq("g"), "id", "w", k = 200)
      .collect().map(_.getLong(0))
    val heavy = picked.count(_ % 2 == 0)
    assert(heavy > 140 && heavy < 195, s"heavy=$heavy of ${picked.length}")
    // reproducible: same seed, same draw
    val again = Sampling.weightedSample(mix, Seq("g"), "id", "w", k = 200)
      .collect().map(_.getLong(0)).toSet
    assert(again == picked.toSet)
    // zero/null weights are never drawn
    val zw = Seq((1L, 0L), (2L, 5L)).toDF("id", "w").withColumn("g", lit(1))
    assert(Sampling.weightedSample(zw, Seq("g"), "id", "w", k = 5)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("negative ids draw valid uniforms (pmod): no null priorities, no split bias") {
    import spark.implicits._
    import graft.ml.Sampling
    // the draw is pmod-based: with plain % every negative id got u ≤ 0
    // (null -ln(u) priority that SORTS FIRST and wins every top-k; and
    // hashSplit dumped all of them in the first split)
    val neg = (-1000L to -1L).map(i => (i, 10L)).toDF("id", "w")
      .withColumn("g", lit(1))
    val split = Sampling.hashSplit(neg, "id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse("val", 0L) > 10 && counts.getOrElse("test", 0L) > 10,
      s"negative ids biased into one split: $counts")
    // weighted draws from an even weight field must not favor negatives
    val mix = ((-500L to -1L) ++ (1L to 500L)).map(i => (i, 10L)).toDF("id", "w")
      .withColumn("g", lit(1))
    val picked = Sampling.weightedSample(mix, Seq("g"), "id", "w", k = 100)
      .collect().map(_.getLong(0))
    val negPicked = picked.count(_ < 0)
    assert(negPicked > 20 && negPicked < 80,
      s"$negPicked of ${picked.length} picks were negative ids")
    // temperature resample keeps a sane fraction of an all-negative corpus
    // (plain % kept EVERYTHING: negative draw always under the rate)
    val kept = Sampling.temperatureResample(
      neg.withColumn("src", lit("s")), "src", "id", 1.0, 0.5).count()
    assert(kept > 350 && kept < 650, s"kept $kept of 1000 at rate 0.5")
  }

  test("temperature resampling flattens a skewed source mix deterministically") {
    import spark.implicits._
    import graft.ml.Sampling
    // 9:1 skew: 1800 'big' rows, 200 'small' rows
    val docs = (1L to 2000L).map(i => (i, if (i <= 1800) "big" else "small"))
      .toDF("id", "src")
    def rates(alpha: Double) = {
      val kept = Sampling.temperatureResample(docs, "src", "id", alpha, 0.5)
        .groupBy("src").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (kept.getOrElse("big", 0L) / 1800.0, kept.getOrElse("small", 0L) / 200.0)
    }
    // alpha = 1 preserves the mix: both sources keep ~targetFraction
    val (b1, s1) = rates(1.0)
    assert(math.abs(b1 - 0.5) < 0.05 && math.abs(s1 - 0.5) < 0.1, (b1, s1).toString)
    // alpha = 0 equalizes EXPECTED COUNTS: each source targets 500 rows
    // → small keeps all 200 (p capped at 1), big keeps ~500
    val (b0, s0) = rates(0.0)
    assert(s0 == 1.0, s0.toString)
    assert(math.abs(b0 - 500.0 / 1800.0) < 0.05, b0.toString)
    // alpha = 0.5 sits between
    val (bh, sh) = rates(0.5)
    assert(bh > b0 && bh < s1 && sh > s1, (bh, sh).toString)
    // deterministic under repartitioning; null sources are dropped
    val a = Sampling.temperatureResample(docs, "src", "id", 0.5, 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureResample(docs.repartition(13), "src", "id", 0.5, 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    val withNull = docs.withColumn("src",
      when(col("id") === 1L, lit(null: String)).otherwise(col("src")))
    assert(!Sampling.temperatureResample(withNull, "src", "id", 0.5, 0.5)
      .select("id").collect().map(_.getLong(0)).contains(1L))
  }

  test("mixtureResample hits explicit target shares; caps, drops unlisted, deterministic") {
    import spark.implicits._
    import graft.ml.Sampling
    // 2000 en / 1000 de / 500 fr / 300 unlisted
    val docs = (1L to 3800L).map { i =>
      (i, if (i <= 2000) "en" else if (i <= 3000) "de"
          else if (i <= 3500) "fr" else "xx")
    }.toDF("id", "src")
    val w = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2)
    val kept = Sampling.mixtureResample(docs, "src", "id", w, targetFraction = 0.4)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // listed N = 3500, target = 1400 → en 700 (rate .35), de 420 (.42), fr 280 (.56)
    assert(!kept.contains("xx"), "unlisted source leaked through")
    assert(math.abs(kept("en") - 700.0) / 700.0 < 0.1, kept.toString)
    assert(math.abs(kept("de") - 420.0) / 420.0 < 0.1, kept.toString)
    assert(math.abs(kept("fr") - 280.0) / 280.0 < 0.15, kept.toString)
    // undersupplied source caps at keep-everything instead of upsampling:
    // fr's share asks for 1400*0.9 = 1260 rows from a 500-row supply
    val capped = Sampling.mixtureResample(docs, "src", "id",
      Map("fr" -> 0.9, "de" -> 0.1), targetFraction = 0.4)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped("fr") == 500L, capped.toString)
    // content-stable: same keep-set under repartitioning
    val a = Sampling.mixtureResample(docs, "src", "id", w, 0.4)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.mixtureResample(docs.repartition(13), "src", "id", w, 0.4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // refuse-early contracts
    intercept[IllegalArgumentException] {
      Sampling.mixtureResample(docs, "src", "id", Map.empty, 0.5) }
    intercept[IllegalArgumentException] {
      Sampling.mixtureResample(docs, "src", "id", Map("en" -> -1.0), 0.5) }
    intercept[IllegalArgumentException] {
      Sampling.mixtureResample(docs, "src", "id", w, 1.5) }
  }

  test("stratifiedSample: exact n per stratum, hash-stable, small strata take all") {
    import spark.implicits._
    import graft.ml.Sampling
    val docs = (1L to 1000L).map(i => (i, if (i <= 900) "big" else "small"))
      .toDF("id", "src")
    val kept = Sampling.stratifiedSample(docs, Seq("src"), "id", n = 50)
    val bySrc = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("big" -> 50L, "small" -> 50L), bySrc.toString)
    // a stratum below n keeps everything
    val tiny = Sampling.stratifiedSample(docs, Seq("src"), "id", n = 500)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tiny == Map("big" -> 500L, "small" -> 100L), tiny.toString)
    // content-stable: same rows under repartitioning; boundary-only
    // drift when rows are removed (survivors of a subset stay chosen)
    val a = kept.select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.stratifiedSample(docs.repartition(13), Seq("src"), "id", 50)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    val subset = Sampling.stratifiedSample(
      docs.filter(col("id") % 10 =!= 0), Seq("src"), "id", 50)
      .select("id").collect().map(_.getLong(0)).toSet
    // removing rows only ADMITS new ids past the boundary: every
    // previously-chosen survivor remains chosen
    assert((a -- subset).forall(_ % 10 == 0), (a -- subset).toString)
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSample(docs, Seq(), "id", 5) }
    // the two physical paths select the SAME rows: decimal ids (numeric
    // but not integral) force the window fallback; the integral path
    // must agree value-for-value. String ids refuse early — the Knuth
    // draw is integer arithmetic and would die mid-job on an ANSI cast
    val viaWindow = Sampling.stratifiedSample(
        docs.withColumn("id", col("id").cast("decimal(20,0)")), Seq("src"), "id", 50)
      .select("id").collect().map(_.getDecimal(0).longValueExact).toSet
    assert(viaWindow == a, (viaWindow -- a).toString)
    val eNum = intercept[IllegalArgumentException] {
      Sampling.stratifiedSample(
        docs.withColumn("id", col("id").cast("string")), Seq("src"), "id", 5)
    }
    assert(eNum.getMessage.contains("NUMERIC id"))
    // integral path is sort-free: bounded partial aggregate + semi-join,
    // never a per-stratum Window sort of the whole input
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1200))
    assert(plan.contains("ObjectHashAggregate"), plan.take(1200))
    // null ids are excluded, not ranked first
    val withNull = docs.withColumn("id",
      when(col("id") === 1L, lit(null: java.lang.Long)).otherwise(col("id")))
    assert(!Sampling.stratifiedSample(withNull, Seq("src"), "id", 50)
      .collect().map(r => Option(r.get(0))).contains(None))
    // a NULL stratum is a real stratum: the aggregate path's semi-join
    // must match it back null-safely, agreeing with the window path
    val nullStratum = docs.withColumn("src",
      when(col("id") <= 100L, lit(null: String)).otherwise(col("src")))
    val aggNull = Sampling.stratifiedSample(nullStratum, Seq("src"), "id", 30)
      .filter(col("src").isNull).select("id")
      .collect().map(_.getLong(0)).toSet
    val winNull = Sampling.stratifiedSample(
        nullStratum.withColumn("id", col("id").cast("decimal(20,0)")), Seq("src"), "id", 30)
      .filter(col("src").isNull).select("id")
      .collect().map(_.getDecimal(0).longValueExact).toSet
    assert(aggNull.size == 30 && aggNull == winNull,
      s"agg=${aggNull.size} win=${winNull.size}")
  }

  test("mixtureSampleExact: floor-apportioned targets, caps, determinism") {
    import spark.implicits._
    import graft.ml.Sampling
    val docs = (1L to 3800L).map { i =>
      (i, if (i <= 2000) "en" else if (i <= 3000) "de"
          else if (i <= 3500) "fr" else "xx")
    }.toDF("id", "src")
    val w = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2)
    // targets: 1000*0.5=500, *0.3=300, *0.2=200 — exact, not expected
    val kept = Sampling.mixtureSampleExact(docs, "src", "id", w, totalN = 1000L)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == Map("en" -> 500L, "de" -> 300L, "fr" -> 200L), kept.toString)
    // undersupplied source caps at its supply (fr has 500 rows)
    val capped = Sampling.mixtureSampleExact(docs, "src", "id",
      Map("fr" -> 0.8, "de" -> 0.2), totalN = 1000L)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped == Map("fr" -> 500L, "de" -> 200L), capped.toString)
    // deterministic under repartitioning; agrees with stratifiedSample
    // on a uniform mixture (same hash order, same per-source take)
    val a = Sampling.mixtureSampleExact(docs, "src", "id", w, 1000L)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.mixtureSampleExact(docs.repartition(13), "src", "id", w, 1000L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    val uni = Sampling.mixtureSampleExact(docs, "src", "id",
      Map("en" -> 1.0 / 3, "de" -> 1.0 / 3, "fr" -> 1.0 / 3), 300L)
      .select("id").collect().map(_.getLong(0)).toSet
    val strat = Sampling.stratifiedSample(
        docs.filter(col("src") =!= "xx"), Seq("src"), "id", 100)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(uni == strat, s"uniform mixture != stratified: ${(uni -- strat).size}")
    intercept[IllegalArgumentException] {
      Sampling.mixtureSampleExact(docs, "src", "id", w, 0L) }
    intercept[IllegalArgumentException] {
      Sampling.mixtureSampleExact(docs, "src", "id", Map("en" -> 1.0), -5L) }
    // arbitrary-scale weights (raw doc counts, the documented share
    // contract): totalN × microweight passes 2^63 — BigInt targets
    // must not wrap. Shares 0.5/0.3/0.2 at totalN 1M: every target
    // exceeds its supply, so each source caps at keep-everything
    val big = Sampling.mixtureSampleExact(docs, "src", "id",
      Map("en" -> 2.0e9, "de" -> 1.2e9, "fr" -> 8.0e8), totalN = 1000000L)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(big == Map("en" -> 2000L, "de" -> 1000L, "fr" -> 500L), big.toString)
    // decimal ids (numeric, non-integral) take the window path and
    // must select the identical set as the bounded-aggregate path
    val viaWin = Sampling.mixtureSampleExact(
        docs.withColumn("id", col("id").cast("decimal(20,0)")), "src", "id", w, 1000L)
      .select("id").collect().map(_.getDecimal(0).longValueExact).toSet
    assert(viaWin == a)
  }

  test("mixtureSampleExact: both paths return the input's columns in order") {
    import spark.implicits._
    import graft.ml.Sampling
    val docs = (1L to 3800L).map { i =>
      (i, s"doc $i", if (i <= 2000) "en" else if (i <= 3000) "de" else "fr")
    }.toDF("id", "text", "src")
    val w = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2)
    // long ids take the bounded fold, decimal ids the row_number window
    val viaFold = Sampling.mixtureSampleExact(docs, "src", "id", w, 1000L)
    val viaWin = Sampling.mixtureSampleExact(
      docs.withColumn("id", col("id").cast("decimal(20,0)")), "src", "id", w, 1000L)
    assert(viaFold.columns.toSeq == Seq("id", "text", "src"))
    assert(viaWin.columns.toSeq == Seq("id", "text", "src"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[org.apache.spark.sql.Row] =
      df.withColumn("id", col("id").cast("long")).collect().toSet
    val fold = rows(viaFold)
    assert(fold.size == 1000 && rows(viaWin) == fold)
  }

  test("greedy packing: budget boundaries, oversize rows, per-key reset") {
    import spark.implicits._
    import graft.operators.Pack
    val df = Seq(
      ("a", 1L, 600L), ("a", 2L, 400L),  // 600+400 = 1000 = budget: same bin
      ("a", 3L, 1L),                     // 1001 > budget: new bin
      ("a", 4L, 5000L),                  // oversize: its own bin
      ("a", 5L, 10L),                    // after oversize: new bin again
      ("b", 1L, 999L), ("b", 2L, 1L))    // fresh key: bins restart at 0
      .toDF("k", "id", "size")
    val got = Pack.greedyPack(df, Seq("k"), Seq("id"), "size", budget = 1000L)
      .select("k", "id", "bin_index").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("a", 1L) -> 0L, ("a", 2L) -> 0L, ("a", 3L) -> 1L,
      ("a", 4L) -> 2L, ("a", 5L) -> 3L,
      ("b", 1L) -> 0L, ("b", 2L) -> 0L))
    // scale shape: one shuffle on the key, sort within partitions, no
    // window operator (the walk is a streaming mapPartitions)
    val plan = Pack.greedyPack(df, Seq("k"), Seq("id"), "size", 1000L)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
    // binary keys compare by CONTENT in the walk (Array[Byte] equality
    // is referential by default — a fresh array per row must not look
    // like a key change and reset every bin to 0)
    val bdf = Seq((Array[Byte](1, 2), 1L, 600L), (Array[Byte](1, 2), 2L, 600L),
      (Array[Byte](3), 3L, 600L)).toDF("k", "id", "size")
    val bins = Pack.greedyPack(bdf, Seq("k"), Seq("id"), "size", 1000L)
      .select("id", "bin_index").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bins == Map(1L -> 0L, 2L -> 1L, 3L -> 0L), bins.toString)
    // appending onto a frame that already has bin_index is refused
    intercept[IllegalArgumentException](Pack.greedyPack(
      df.withColumn("bin_index", lit(0L)), Seq("k"), Seq("id"), "size", 1000L))
  }
}
