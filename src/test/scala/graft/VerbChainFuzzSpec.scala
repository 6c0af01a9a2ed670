package graft

import graft.core.{sel, CrysFrame}
import org.apache.spark.sql.functions._

/** Randomized chains over the public verb surface — the crash net for
  * API combinations no scenario test thinks to write (the r8 revOf
  * defect was exactly this shape: `sortByOrder(desc).takeLast` died at
  * codegen while every individual verb's own spec was green).
  *
  * Each seeded case applies 4–9 random applicable verbs to a small
  * frame, observes the result, and checks the structural contracts
  * every chain must keep:
  *   - `.out` materializes without throwing;
  *   - no internal helper column (`__`-prefixed or the ingest ordinal)
  *     leaks into the visible schema;
  *   - visible column names stay unique;
  *   - row-preserving verbs (sorts, renames, moves, column adds)
  *     keep the row count; reducers never increase it. */
class VerbChainFuzzSpec extends GraftSpec {

  import spark.implicits._

  /** `rows` is None once a data-dependent reducer (distinct, grouped
    * take) ran — structural contracts still checked, the count no
    * longer is. `grouped` tracks the EXPECTED grouping state per each
    * verb's documented contract; asserted against isGrouped after
    * every step. */
  protected case class St(f: CrysFrame, numCols: Vector[String],
                        idCol: String, strCol: String, rows: Option[Long],
                        grouped: Boolean = false)

  private def base(rnd: scala.util.Random): St = base(rnd, hostileNames = false)

  /** `hostileNames` renames the base columns to quoting-hostile forms
    * (dots, spaces, backticks, unicode) — every verb must treat a name
    * as one literal identifier (`qcol`), never a parse target. */
  protected def base(rnd: scala.util.Random, hostileNames: Boolean): St = {
    val n = 40 + rnd.nextInt(140)
    val parts = 1 + rnd.nextInt(6)
    val df0 = (0 until n).map { i =>
      val v: java.lang.Long =
        if (rnd.nextInt(6) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(11) - 5)
      (i.toLong, v, s"g${i % (1 + rnd.nextInt(5))}")
    }.toDF("id", "v", "g").repartition(parts)
    val (df, idN, vN, gN) =
      if (!hostileNames) (df0, "id", "v", "g")
      else (df0.withColumnsRenamed(Map(
        "id" -> "the id", "v" -> "Sepal.Length", "g" -> "gr`oup")),
        "the id", "Sepal.Length", "gr`oup")
    St(CrysFrame(df), Vector(idN, vN), idN, gN, Some(n.toLong))
  }

  /** Independent second fuzzed frame for the join/bind vocabulary:
    * UNIQUE string keys drawn from a domain that only partially
    * overlaps the base's g-domain (so matched and unmatched keys occur
    * on both sides), plus one numeric attribute under a fresh name —
    * Long or Int at random so the bind/union type-widening paths fire
    * too. */
  private def dimFrame(st: St, rnd: scala.util.Random,
                       fresh: () => String): (CrysFrame, String) = {
    val nm = fresh()
    val keys = (0 until 3 + rnd.nextInt(6)).map(_ => s"g${rnd.nextInt(8)}").distinct
    val df =
      if (rnd.nextBoolean()) keys.map(k => (k, rnd.nextInt(100).toLong)).toDF(st.strCol, nm)
      else keys.map(k => (k, rnd.nextInt(100))).toDF(st.strCol, nm)
    (CrysFrame(df), nm)
  }

  /** One applicable random step; returns the next state. `nOps` bounds
    * the vocabulary so pinned seeds keep replaying their original
    * chain when new ops are appended (only ever append — never
    * renumber — or the pinned-seed chains change under the test). */
  private def step(st: St, rnd: scala.util.Random, fresh: () => String,
                   nOps: Int): St =
    stepOp(st, rnd.nextInt(nOps), rnd, fresh)

  /** The op table itself, addressable by index — the "vocabulary
    * bound matches the op table" test drives every arm directly and
    * pins `allOps` to the exact arity (an appended arm that forgets
    * to bump `allOps` never fires in soaks: that EXACT mistake shipped
    * mid-r9 and cost three soak ranges — see
    * sweeps/r9_fuzz_campaign.md "process correction"). */
  protected def stepOp(st: St, op: Int, rnd: scala.util.Random,
                       fresh: () => String): St = {
    val numCol = st.numCols(rnd.nextInt(st.numCols.size))
    op match {
      case 0 => st.copy(f = st.f.sortBy(numCol))
      case 1 => st.copy(f = st.f.sortDescBy(numCol))
      case 2 => st.copy(f = st.f.sortByOrder(c => c(numCol).desc))
      case 3 => st.copy(f = st.f.sortByExpr(c => c(numCol) * -1))
      case 4 =>
        val nm = fresh()
        st.copy(f = st.f.addColumn(nm)(c => c(numCol) + 1),
          numCols = st.numCols :+ nm)
      case 5 =>
        // order-sensitive global verbs: the frame may have no explicit
        // ordering yet — give it one first (the user contract)
        val nm = fresh()
        val sorted = st.f.sortBy(st.idCol)
        val mk: graft.core.Ctx => org.apache.spark.sql.Column =
          rnd.nextInt(5) match {
            case 0 => c => c.cumsum(c(numCol))
            case 1 => c => c.lead(c(numCol), 1 + rnd.nextInt(3), -1L)
            case 2 => c => c.lag(c(numCol))
            case 3 => _.rowNumber
            case _ => c => c.rollingSum(c(numCol), 1 + rnd.nextInt(5))
          }
        st.copy(f = sorted.addColumn(nm)(mk), numCols = st.numCols :+ nm)
      case 6 =>
        val nm = fresh()
        st.copy(f = st.f.addColumn(nm)(c => c.rank(c(numCol).desc)),
          numCols = st.numCols :+ nm)
      case 7 =>
        val nm = fresh()
        st.copy(f = st.f.rename(numCol -> nm),
          numCols = st.numCols.map(c => if (c == numCol) nm else c),
          idCol = if (st.idCol == numCol) nm else st.idCol)
      case 8 => st.copy(f = st.f.moveLeft(st.strCol))
      case 9 =>
        val n = 1 + rnd.nextInt(20)
        val took = if (rnd.nextBoolean()) st.f.take(n) else st.f.takeLast(n)
        // grouped: per-group n — the total is data-dependent
        st.copy(f = took, rows =
          if (st.grouped) None else st.rows.map(r => math.min(r, n.toLong)))
      case 10 =>
        val f2 = st.f.filter(c => c(numCol).isNotNull || c(st.strCol).isNotNull)
        st.copy(f = f2) // predicate is a tautology on this data: rows keep
      case 11 => // bindRows goes through `out` → result is ungrouped
        st.copy(f = st.f.bindRows(st.f), rows = st.rows.map(_ * 2),
          grouped = false)
      case 12 => st.copy(f = st.f.shuffle())
      // ---- extended vocabulary (appended; see `nOps` contract) ----
      case 13 =>
        // full-width select in a random order: exercises the ordering
        // ride-along projection path
        val perm = rnd.shuffle(st.f.names.toVector)
        st.copy(f = st.f.select(perm: _*))
      case 14 =>
        // reject a derived numeric column (never the last one, never id)
        val derived = st.numCols.filter(c => c != st.idCol)
        if (derived.size < 2) st
        else {
          val victim = derived(rnd.nextInt(derived.size))
          st.copy(f = st.f.reject(victim),
            numCols = st.numCols.filterNot(_ == victim))
        }
      case 15 =>
        // grouped order-sensitive verb: partitioned window path (the
        // grouped twin of op 5), then ungroup
        val nm = fresh()
        val sorted = st.f.sortBy(st.idCol).groupBy(st.strCol)
        val mk: graft.core.Ctx => org.apache.spark.sql.Column =
          rnd.nextInt(4) match {
            case 0 => c => c.cumsum(c(numCol))
            case 1 => c => c.lead(c(numCol), 1 + rnd.nextInt(3), -1L)
            case 2 => c => c.lag(c(numCol))
            case _ => _.rowNumber
          }
        st.copy(f = sorted.addColumn(nm)(mk).ungroup,
          numCols = st.numCols :+ nm, grouped = false)
      case 16 =>
        // row count becomes data-dependent (duplicates may exist after
        // bindRows); distinct also UNGROUPS (the reference dedups
        // globally and returns an ungrouped frame)
        st.copy(f = st.f.distinct(), rows = None, grouped = false)
      case 17 =>
        if (st.grouped)
          // per-group exact-1 sample: every group has >= 1 row, total
          // is the (data-dependent) group count
          st.copy(f = st.f.sampleN(1), rows = None)
        else {
          val k = st.rows match {
            case Some(r) => 1 + rnd.nextInt(math.min(r, 20L).toInt)
            case None    => 1
          }
          // k=1 stopped being "always safe" when the join vocabulary
          // arrived: inner/anti joins on partially-overlapping key
          // domains can leave a legitimately EMPTY frame, and
          // sampleN(1) on it refuses BY CONTRACT (the reference's
          // over-sample-without-replace raise — correct product
          // behavior, seed 20134). The emptiness probe consumes no
          // randomness, so pinned chains replay unchanged.
          if (st.rows.isEmpty && st.f.numRow == 0) st
          else st.copy(f = st.f.sampleN(k), rows = Some(k.toLong))
        }
      case 18 =>
        // self semi-join on the string key: row- and column-preserving;
        // joins return ungrouped frames
        st.copy(f = st.f.semiJoin(st.f, by = Seq(st.strCol)),
          grouped = false)
      // ---- grouping-state vocabulary (appended) ----
      case 19 =>
        if (st.grouped) st.copy(f = st.f.ungroup, grouped = false)
        else st.copy(f = st.f.groupBy(st.strCol), grouped = true)
      // ---- v21 vocabulary (appended) ----
      case 20 =>
        // ordinal stamp: 1-based leading row number (per group when
        // grouped); requires an ordering first, like op 5
        val nm = fresh()
        st.copy(f = st.f.sortBy(st.idCol).addRowNumber(nm),
          numCols = st.numCols :+ nm)
      case 21 => st.copy(f = st.f.moveRight(st.strCol))
      // ---- r9 vocabulary (appended): joins & binds vs a 2nd frame ----
      case 22 =>
        // row-preserving left join: dim keys are UNIQUE, so every left
        // row matches at most once (joins return ungrouped frames)
        val (dim, nm) = dimFrame(st, rnd, fresh)
        st.copy(f = st.f.leftJoin(dim, by = Seq(st.strCol)),
          numCols = st.numCols :+ nm, grouped = false)
      case 23 =>
        val (dim, nm) = dimFrame(st, rnd, fresh)
        st.copy(f = st.f.innerJoin(dim, by = Seq(st.strCol)),
          numCols = st.numCols :+ nm, rows = None, grouped = false)
      case 24 =>
        // unmatched dim keys materialize rows whose LEFT columns
        // (including the id) are all null — downstream sorts must keep
        // treating those as NAs-last
        val (dim, nm) = dimFrame(st, rnd, fresh)
        st.copy(f = st.f.rightJoin(dim, by = Seq(st.strCol)),
          numCols = st.numCols :+ nm, rows = None, grouped = false)
      case 25 =>
        val (dim, nm) = dimFrame(st, rnd, fresh)
        st.copy(f = st.f.outerJoin(dim, by = Seq(st.strCol)),
          numCols = st.numCols :+ nm, rows = None, grouped = false)
      case 26 =>
        // anti: column-preserving, row count data-dependent
        val (dim, _) = dimFrame(st, rnd, fresh)
        st.copy(f = st.f.antiJoin(dim, by = Seq(st.strCol)),
          rows = None, grouped = false)
      case 27 =>
        // unequal-key inner join against a dim DERIVED FROM THIS FRAME
        // (distinct keys → row-preserving): evaluates the frame on two
        // plan branches — the cross-branch determinism net (the
        // seed-2100 class), now through the join machinery + byPairs
        val kcol = fresh()
        val nm = fresh()
        val dim = st.f.select(st.strCol).distinct()
          .rename(st.strCol -> kcol)
          .addColumn(nm)(c => length(c(kcol)).cast("long"))
        st.copy(f = st.f.innerJoin(dim, byPairs = Seq(st.strCol -> kcol)),
          numCols = st.numCols :+ nm, grouped = false)
      case 28 =>
        // suffix-collision join: the dim deliberately carries a column
        // named like an existing numeric column → `.x`/`.y` suffixing
        // on BOTH sides (reference joins.cr:149-166); the state tracks
        // the renames so later verbs keep addressing the survivors
        val victim = st.numCols(rnd.nextInt(st.numCols.size))
        val keys = (0 until 4 + rnd.nextInt(5))
          .map(_ => (s"g${rnd.nextInt(8)}", rnd.nextInt(50).toLong))
          .distinctBy(_._1)
        val dim = CrysFrame(keys.toDF(st.strCol, victim))
        st.copy(f = st.f.leftJoin(dim, by = Seq(st.strCol)),
          numCols = st.numCols.map(c => if (c == victim) c + ".x" else c)
            :+ (victim + ".y"),
          idCol = if (st.idCol == victim) victim + ".x" else st.idCol,
          grouped = false)
      case 29 =>
        // positional FULL-SELF bind: every name collides → the `_N`
        // dedup suffixing path, and the frame is evaluated on two
        // branches whose zipWithIndex pairings must agree on the count
        st.copy(f = st.f.bindCols(st.f), grouped = false)
      case 30 =>
        // union-by-name with an independent partial-column frame:
        // null fill for the missing columns (the id column gains
        // nulls), Int/Long widening half the time
        val extra = (0 until 3 + rnd.nextInt(8))
          .map(_ => (s"g${rnd.nextInt(8)}", (rnd.nextInt(9) - 4).toLong))
        val dim = CrysFrame(extra.toDF(st.strCol, numCol))
        st.copy(f = st.f.bindRows(dim),
          rows = st.rows.map(_ + extra.size), grouped = false)
      // ---- r9b vocabulary (appended): reshape verbs ----
      case 31 =>
        // unite keeping sources: appends one string column (nulls
        // render "NA" inside it); grouping survives (regrouped)
        st.copy(f = st.f.unite(fresh(), sel.listOf(st.strCol, numCol),
          remove = false))
      case 32 =>
        // separate the (never-null) string key on a non-occurring
        // separator: part 1 = the whole value, part 2 = null — the
        // padded-`into` edge; sources kept
        st.copy(f = st.f.separate(st.strCol, Seq(fresh(), fresh()),
          sep = "\\|", remove = false))
      case 33 =>
        // gather two derived numeric columns to long form: rows x2,
        // Int/Long/Double coercion, result ungrouped (gather rebuilds)
        val derived = st.numCols.filter(_ != st.idCol).distinct
        if (derived.size < 2) st
        else {
          val picked = rnd.shuffle(derived).take(2)
          val (a, b) = (picked(0), picked(1))
          val value = fresh()
          st.copy(f = st.f.gather(fresh(), value, sel.listOf(a, b)),
            numCols = st.numCols.filterNot(Set(a, b)) :+ value,
            rows = st.rows.map(_ * 2), grouped = false)
        }
      case 34 =>
        // nest the derived numerics into a sorted struct list and
        // explode back: row count round-trips, order is lost by
        // contract, result ungrouped
        val derived = st.numCols.filter(_ != st.idCol)
        if (derived.isEmpty) st
        else {
          val packed = fresh()
          st.copy(f = st.f.nest(sel.listOf(derived: _*), packed).unnest(packed),
            grouped = false)
        }
      // ---- r10 vocabulary (appended): positional / sampling verbs ----
      case 35 =>
        // positional slice after an explicit sort: ungrouped → first k
        // rows; grouped → per-group k (data-dependent total)
        val k = 1 + rnd.nextInt(15)
        st.copy(f = st.f.sortBy(st.idCol).slice(1 to k), rows =
          if (st.grouped) None else st.rows.map(r => math.min(r, k.toLong)))
      case 36 =>
        // EXACT fractional sample (bround(n·frac), the reference
        // contract): predictable count when ungrouped with known rows
        val frac = Seq(0.25, 0.5, 0.75)(rnd.nextInt(3))
        val expected = st.rows.map(r =>
          BigDecimal(r * frac).setScale(0, BigDecimal.RoundingMode.HALF_EVEN).toLong)
        st.copy(f = st.f.sampleFrac(frac),
          rows = if (st.grouped) None else expected)
      case 37 =>
        // row-lambda filter through the Row path (filterByRow): the
        // predicate is a tautology on the visible schema, so the verb
        // must be row-preserving — and must present every visible
        // column to the lambda (a leaked helper column would shift
        // the schema under the accessor)
        st.copy(f = st.f.filterByRow(r => r.length >= 2))
      case 38 =>
        // complete() on the string key: expand ∘ left-join-back. Row
        // count is data-dependent (null keys from earlier right/outer
        // joins drop their rows and materialize one null-padded combo
        // row); result ungrouped (join rebuild)
        st.copy(f = st.f.complete(st.strCol), rows = None, grouped = false)
    }
  }

  /** Legacy vocabulary size — pinned seeds found under it replay their
    * original chains only at this size. */
  private val legacyOps = 13
  /** Vocabulary size before the grouping-state ops were appended. */
  private val v19Ops = 19
  /** MUST equal the arity of [[stepOp]]'s match — pinned by the
    * "vocabulary bound matches the op table" test. */
  protected val allOps = 39

  protected def runCaseSoak(seed: Int): Unit = runCase(seed)
  protected def runCaseSoakHostile(seed: Int): Unit =
    runCase(seed, hostileNames = true)

  private def runCase(seed: Int, nOps: Int = allOps,
                      hostileNames: Boolean = false): Unit = {
    val rnd = new scala.util.Random(seed)
    var st = base(rnd, hostileNames)
    var n = 0
    val fresh = () => { n += 1; s"c$n" }
    val steps = 4 + rnd.nextInt(6)
    try {
      (0 until steps).foreach { _ =>
        st = step(st, rnd, fresh, nOps)
        assert(st.f.isGrouped == st.grouped,
          s"grouping contract: expected grouped=${st.grouped}")
      }
      val out = st.f.out
      val rows = out.count()
      val cols = out.columns.toSeq
      assert(cols.distinct == cols, s"duplicate visible columns: $cols")
      assert(!cols.exists(c => c.startsWith("__")),
        s"internal helper column leaked: $cols")
      st.rows.foreach(r => assert(rows == r, s"row count $rows, expected $r"))
      // a terminal grouped aggregation must also observe cleanly, and
      // must see the same row universe the direct observation did
      val agg = st.f.groupBy(st.strCol)
        .summarize("n" -> (_ => graft.core.Agg.n)).out.collect()
      assert(agg.map(_.getLong(1)).sum == rows)
    } catch {
      case e: org.scalatest.exceptions.TestFailedException => throw e
      case e: Throwable =>
        fail(s"seed=$seed steps=$steps: chain threw ${e.getClass.getSimpleName}: " +
          e.getMessage, e)
    }
  }

  test("random verb chains observe cleanly and keep structural contracts") {
    // smoke tier (fast dev loop); the 300-seed tagged soak below is
    // the real campaign arm and runs in every full `sbt test`/CI pass
    forEachSeed(1 to 12)(s => runCase(1000 + s))
  }

  test("random verb chains survive quoting-hostile column names") {
    forEachSeed(1 to 8)(s => runCase(1000 + s, hostileNames = true))
  }

  test("seed 1215: computed sort key survives rename + RDD-boundary verb") {
    // found by a 500-seed soak: rename → sortByExpr → rename → rank
    // left a stale composite sort key whose missing-attribute
    // resolution was severed by the global-window materialization's
    // zipWithIndex boundary; pinned here (legacy vocabulary — the
    // chain replays exactly), minimal shape in CoreVerbsSpec
    // ("computed sort key survives rename...")
    runCase(1215, nOps = legacyOps)
  }

  test("vocabulary bound matches the op table exactly; every arm observes") {
    // every arm fires once against a fresh base frame (so an arm that
    // can only throw is caught the round it lands), and allOps is
    // pinned to the match's exact arity from both sides
    (0 until allOps).foreach { op =>
      val rnd = new scala.util.Random(40000 + op)
      var st = base(rnd, hostileNames = op % 2 == 1)
      var n = 0
      val fresh = () => { n += 1; s"c$n" }
      st = stepOp(st, op, rnd, fresh)
      assert(st.f.isGrouped == st.grouped, s"op $op grouping contract")
      val out = st.f.out
      // collect(), NOT count(): count prunes every projected column,
      // so an arm whose output only throws when its columns EVALUATE
      // would pass (the ragged-separate ANSI crash hid behind exactly
      // this — the soak only caught it when a later verb consumed the
      // part columns)
      val rows = out.collect().length.toLong
      st.rows.foreach(r => assert(rows == r, s"op $op: rows $rows != $r"))
      assert(out.columns.toSeq.distinct == out.columns.toSeq, s"op $op dup cols")
    }
    intercept[MatchError] {
      val rnd = new scala.util.Random(1)
      var n = 0
      stepOp(base(rnd, hostileNames = false), allOps, rnd, () => { n += 1; s"c$n" })
    }
  }

  test("r10 soak: seeds 50001-50300, 39-op vocab, every 2nd hostile", Soak) {
    // permanent regression soak at the r10 vocabulary (slice /
    // exact-sampleFrac / filterByRow / complete appended as ops
    // 35-38); tagged Soak so the fast dev loop skips it — full
    // `sbt test` (and CI) runs it every time
    forEachSeed(50001 to 50300) { s =>
      if (s % 2 == 0) runCaseSoakHostile(s) else runCaseSoak(s)
    }
  }

  test("seed 2100: take of a wide plan is cross-branch deterministic") {
    // found by a 300-seed soak under the extended vocabulary:
    // rename → take → self semi-join → bindRows → … lost rows because
    // take's position capture (monotonically_increasing_id over a
    // repartitioned frame) was re-planned per join branch by AQE;
    // ordered() now routes wide plans through the frozen zipWithIndex
    // capture. Minimal shape in CoreVerbsSpec ("take on an
    // ordering-less frame is a stable value").
    runCase(2100, nOps = v19Ops)
  }
}
