package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CrysFrame, sel}

/** One op of a workload: a kind and its seeded integer parameters. */
final case class Op(kind: String, params: Map[String, Long]) {
  def apply(k: String): Long = params(k)
}

/** What an op's certificate found. `oracle` marks results that are
  * re-computed with DuckDB after the run; otherwise `ok` is the
  * certificate's verdict. `recall` is an ANN op's recall against
  * brute-force truth. */
final case class Outcome(cols: Seq[String], rows: Seq[Row], oracle: Boolean,
                         ok: Boolean = true, note: String = "", recall: Option[Double] = None)

/** What an op returned: the input rows it read and its certificate. The
  * client stops the op's clock before it evaluates the certificate, so
  * verification work is never part of an op's latency or CPU time. */
final case class Result(rowsIn: Long, certify: () => Outcome)

/** The ops of the `relational` workload. Each mirrors a library query of
  * the same shape (named in the comment) with seeded parameters, and ends
  * by collecting a small frame or by writing files. */
final class Relational(spark: SparkSession, dir: String, sizes: Map[String, Long],
                       writeDir: String) {
  import Relational._

  private def read(t: String): CrysFrame =
    Trace.span("sources", "readParquet")(graft.sources.Readers.readParquet(spark, s"$dir/$t"))

  private def rows(ts: String*): Long = ts.map(sizes).sum

  private def collect(f: CrysFrame): (Seq[String], Seq[Row]) = {
    val names = f.names
    (names, Trace.span("engine", "collect")(f.collectRows()))
  }

  private def core[T](name: String)(body: => T): T = Trace.span("core", name)(body)

  private def done(f: CrysFrame, rowsIn: Long): Result = {
    val (c, r) = collect(f)
    Result(rowsIn, () => Outcome(c, r, oracle = true))
  }

  def run(op: Op): Result = op.kind match {
    // q1_agg
    case "agg_shipdate" =>
      val li = read("lineitem")
      val f = core("filter")(li.filter(_ => col("l_shipdate") <= timestamp_seconds(lit(Day0 + op("day") * 86400L))))
      val g = core("groupBy")(f.groupBy("l_returnflag", "l_linestatus"))
      val s = core("summarize")(g.summarize(
        "sum_qty" -> (_ => sum(col("l_quantity"))),
        "sum_price" -> (_ => sum(col("l_extendedprice"))),
        "avg_disc" -> (_ => avg(col("l_discount"))),
        "n" -> (_ => count(lit(1)))))
      done(core("sortBy")(s.sortBy("l_returnflag", "l_linestatus")), rows("lineitem"))

    // q_join_inner
    case "join_revenue" =>
      val li = read("lineitem")
      val o = core("filter")(read("orders").filter(_ => year(col("o_orderdate")) === op("year")))
      val j1 = core("innerJoin")(li.innerJoin(o, byPairs = Seq("l_orderkey" -> "o_orderkey")))
      val j2 = core("innerJoin")(j1.innerJoin(read("customer"), byPairs = Seq("o_custkey" -> "c_custkey")))
      val j3 = core("innerJoin")(j2.innerJoin(read("nation"), byPairs = Seq("c_nationkey" -> "n_nationkey")))
      val s = core("summarize")(core("groupBy")(j3.groupBy("n_name")).summarize(
        "revenue" -> (_ => sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))),
        "n" -> (_ => count(lit(1)))))
      done(core("sortBy")(s.sortBy("n_name")), rows("lineitem", "orders", "customer", "nation"))

    // q_spread_fill
    case "spread_status" =>
      val o = core("filter")(read("orders").filter(_ => col("o_totalprice") > op("price").toDouble))
      val c = core("count")(o.count("o_orderstatus", "o_orderpriority"))
      val s = core("spread")(c.spread("o_orderpriority", "n", fill = 0L))
      done(core("sortBy")(s.sortBy("o_orderstatus")), rows("orders"))

    // q_gather
    case "gather_part" =>
      val p = core("filter")(read("part").filter(_ => col("p_size") < op("size")))
      val a = core("transmute")(p.transmute(
        "p_partkey" -> (_ => col("p_partkey")),
        "size_d" -> (_ => col("p_size").cast("double")),
        "p_retailprice" -> (_ => col("p_retailprice"))))
      val g = core("gather")(a.gather("key", "value", sel.listOf("size_d", "p_retailprice")))
      val s = core("summarize")(core("groupBy")(g.groupBy("key")).summarize(
        "n" -> (_ => count(lit(1))), "total" -> (_ => sum(col("value")))))
      done(core("sortBy")(s.sortBy("key")), rows("part"))

    // q_rank
    case "rank_cust" =>
      val c = core("filter")(read("customer").filter(_ => col("c_nationkey") === op("nation")))
      val r = core("addColumn")(core("groupBy")(c.groupBy("c_mktsegment"))
        .addColumn("r")(x => x.rank(col("c_acctbal").desc).cast("long")))
      val top = core("filter")(r.filter(_ => col("r") <= 3))
      val s = core("select")(top.ungroup.select("c_mktsegment", "c_custkey", "c_acctbal", "r"))
      done(core("sortBy")(s.sortBy("c_mktsegment", "r", "c_custkey")), rows("customer"))

    // q_lead_lag + q_cumsum
    case "lead_lag" =>
      val u0 = op("user")
      val e = core("filter")(read("events").filter(_ => col("user_id").between(u0, u0 + 19)))
      val w = core("addColumns")(core("sortBy")(core("groupBy")(e.groupBy("user_id"))
        .sortBy("ts", "event_id")).addColumns(
          "prev" -> (c => c.lag(col("value"))),
          "nxt" -> (c => c.lead(col("value"))),
          "running" -> (c => c.cumsum(col("value").cast("decimal(18,2)")))))
      val s = core("summarize")(w.summarize(
        "n" -> (_ => count(lit(1))),
        "sum_prev" -> (_ => sum(col("prev"))),
        "sum_next" -> (_ => sum(col("nxt"))),
        "max_running" -> (_ => max(col("running")).cast("double"))))
      done(core("sortBy")(s.sortBy("user_id")), rows("events"))

    // q_distinct + q_count
    case "distinct_count" =>
      val li = core("filter")(read("lineitem").filter(_ => col("l_partkey") <= op("part")))
      val d = core("distinct")(li.select("l_returnflag", "l_linestatus", "l_suppkey").distinct())
      val c = core("count")(d.count("l_returnflag", "l_linestatus"))
      done(core("sortBy")(c.sortBy("l_returnflag", "l_linestatus")), rows("lineitem"))

    // q_sort + q_take_last
    case "top_orders" =>
      val c0 = op("cust")
      val o = core("filter")(read("orders").filter(_ => col("o_custkey").between(c0, c0 + 99)))
      val s = core("sortDescBy")(o.sortDescBy("o_totalprice", "o_orderkey"))
      val h = core("head")(s.head(10))
      done(core("select")(h.select("o_orderkey", "o_custkey", "o_totalprice")), rows("orders"))

    // q_window_global over a data-scale frame: GlobalWindows ordinals
    case "window_global" =>
      val li = core("filter")(read("lineitem").filter(_ => col("l_partkey") <= op("part")))
      val w = Trace.span("core", "window") {
        val s = core("sortBy")(li.sortBy("l_shipdate", "l_orderkey", "l_linenumber"))
        val a = core("addColumns")(s.addColumns(
          "running" -> (c => c.cumsum(col("l_quantity").cast("decimal(18,2)"))),
          "prev" -> (c => c.lag(col("l_extendedprice"))),
          "rn" -> (c => c.rowNumber.cast("long"))))
        done(core("summarize")(a.summarize(
          "n" -> (_ => count(lit(1))),
          "sum_rn" -> (_ => sum(col("rn"))),
          "max_running" -> (_ => max(col("running")).cast("double")),
          "sum_prev" -> (_ => sum(col("prev"))))), rows("lineitem"))
      }
      w

    // the same global window over a join result
    case "window_join" =>
      val o = core("filter")(read("orders").filter(_ => col("o_orderdate").between(
        timestamp_seconds(lit(Day0 + op("day") * 86400L)),
        timestamp_seconds(lit(Day0 + (op("day") + op("days")) * 86400L)))))
      val j = core("innerJoin")(read("lineitem").innerJoin(o, byPairs = Seq("l_orderkey" -> "o_orderkey")))
      val w = Trace.span("core", "window") {
        val s = core("sortBy")(j.sortBy("o_orderdate", "l_orderkey", "l_linenumber"))
        val a = core("addColumns")(s.addColumns(
          "running" -> (c => c.cumsum(col("l_quantity").cast("decimal(18,2)"))),
          "rn" -> (c => c.rowNumber.cast("long"))))
        done(core("summarize")(a.summarize(
          "n" -> (_ => count(lit(1))),
          "sum_rn" -> (_ => sum(col("rn"))),
          "max_running" -> (_ => max(col("running")).cast("double")))), rows("lineitem", "orders"))
      }
      w

    // q_sessionize
    case "sessionize" =>
      val u0 = op("user")
      val e = core("filter")(read("events").filter(_ => col("user_id").between(u0, u0 + op("users"))))
      Trace.span("operators", "sessionStats") {
        val stats = graft.operators.Sessionize.sessionStats(
          e.out, Seq("user_id"), "ts", op("gap_min") * 60000L, "value", tieBreak = Seq("event_id"))
        done(core("summarize")(CrysFrame(stats).summarize(
          "n_sessions" -> (_ => count(lit(1))),
          "n_events" -> (_ => sum(col("n_events"))),
          "max_events" -> (_ => max(col("n_events"))),
          "span_s" -> (_ => sum(col("end_s") - col("start_s"))),
          "sum_value" -> (_ => sum(col("sum_value").cast("decimal(28,2)")).cast("double")))),
          rows("events"))
      }

    // q_range_join: events inside per-user promotion windows
    case "range_join" =>
      val u0 = op("user")
      val e = core("addColumn")(core("filter")(read("events")
        .filter(_ => col("user_id").between(u0, u0 + op("users"))))
        .addColumn("ts_us")(_ => unix_micros(col("ts"))))
      val promos = read("promos")
      Trace.span("operators", "pointInInterval") {
        val j = graft.operators.RangeJoin.pointInInterval(e.out, "ts_us", promos.out,
          "lo_us", "hi_us", Seq("user_id"), binWidth = 3600L * 1000000L)
        done(core("summarize")(CrysFrame(j).summarize(
          "n" -> (_ => count(lit(1))),
          "sum_promo" -> (_ => sum(col("promo_id"))),
          "sum_event" -> (_ => sum(col("event_id"))))), rows("events", "promos"))
      }

    // x_write_shards
    case "write_shards" =>
      val o = core("filter")(read("orders").filter(_ => col("o_orderdate") <
        timestamp_seconds(lit(Day0 + op("day") * 86400L))))
      val out = s"$writeDir/shards"
      val m = Trace.span("sources", "writeShards") {
        val manifest = graft.sources.Export.writeShards(o.out, "o_orderkey", nShards = 16, out)
        Trace.span("engine", "collect")(manifest.collect().toSeq)
      }
      Result(rows("orders"), () => checkWrite(o.out, out, m))

    // x_zorder_write
    case "zorder_write" =>
      val li = core("select")(core("filter")(read("lineitem").filter(_ => col("l_partkey") <= op("part")))
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"))
      val out = s"$writeDir/zorder"
      Trace.span("sources", "writeZOrdered")(
        graft.sources.ZOrder.writeZOrdered(li.out, out, Seq("l_orderkey", "l_partkey"), numFiles = 16))
      Result(rows("lineitem"), () => checkWrite(li.out, out, Nil))
  }

  /** A write is correct when the files read back (with Spark's own
    * parquet reader) hold exactly the source rows: same count, same
    * order-free hash sum over the source columns. The output directory
    * is removed afterwards. */
  private def checkWrite(src: DataFrame, out: String, manifest: Seq[Row]): Outcome = {
    val cols = src.columns.toSeq
    def digest(df: DataFrame): Row =
      df.agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
    val want = digest(src)
    val got = digest(spark.read.parquet(out).select(cols.map(col): _*))
    Checks.deleteTree(new java.io.File(out))
    val ok = want == got
    Outcome(Seq("rows", "hash_sum"), Seq(got), oracle = false, ok = ok,
      note = if (ok) "" else s"written $got != source $want; manifest ${manifest.size} rows")
  }
}

object Relational {
  val Day0 = 694224000L // 1992-01-01 UTC

  /** One round of the `relational` workload: eight short verb chains an
    * analyst would type, then the data-bound scale ops. */
  val Kinds = Seq("agg_shipdate", "join_revenue", "spread_status", "gather_part", "rank_cust",
    "lead_lag", "distinct_count", "top_orders", "window_global", "sessionize", "write_shards",
    "range_join", "window_join", "zorder_write")

  /** Seeded parameters for one op of `kind`. The ranges keep the work of
    * one kind nearly constant across seeds while the slices differ.
    * Warm-up ops (`warm`) take small slices: they exist to compile and JIT
    * the op's code path. */
  def params(kind: String, rnd: java.util.SplittableRandom, warm: Boolean = false): Map[String, Long] = {
    def r(lo: Long, hi: Long): Long = lo + rnd.nextLong(hi - lo + 1)
    val users = if (warm) 49L else 999L
    kind match {
      case "agg_shipdate" => Map("day" -> r(1800, 2000))
      case "join_revenue" => Map("year" -> r(1993, 1997))
      case "spread_status" => Map("price" -> r(200000, 220000))
      case "gather_part" => Map("size" -> r(24, 26))
      case "rank_cust" => Map("nation" -> r(0, 24))
      case "lead_lag" => Map("user" -> r(1, 1981))
      case "distinct_count" => Map("part" -> r(9000, 11000))
      case "top_orders" => Map("cust" -> r(1, 14901))
      case "window_global" => Map("part" -> (if (warm) r(50, 100) else r(1400, 1600)))
      case "window_join" => Map("day" -> r(0, 2200), "days" -> (if (warm) 5L else 90L))
      case "sessionize" => Map("user" -> r(1, 1001), "users" -> users, "gap_min" -> r(15, 60))
      case "range_join" => Map("user" -> r(1, 1001), "users" -> users)
      case "write_shards" => Map("day" -> (if (warm) r(10, 20) else r(440, 460)))
      case "zorder_write" => Map("part" -> (if (warm) r(50, 100) else r(2900, 3100)))
    }
  }
}
