package graft

import org.apache.spark.storage.StorageLevel

/** The dev mains share one measurement harness (`Harness`): the session
  * built from `SPARK_GRAFT_CPUS`, the trial protocol and its cache reset
  * live there and nowhere else, so a main cannot drift back to a private
  * copy. `Verify` (the correctness contract, its own session and default
  * thread count) and `Demo` (a fixed four-thread session) are the named
  * exceptions; library code may clear the cache where its own contract
  * says so. */
class HarnessSpec extends GraftSpec {

  import SourceScan.sites

  private val main = "src/main/scala/graft/"

  /** Sites in the dev mains: the files directly in the `graft` package. */
  private def inMains(needle: String): Map[String, Int] =
    sites(needle).filter { case (f, _) =>
      f.startsWith(main) && !f.stripPrefix(main).contains('/') }

  test("only Harness builds a dev main's session from SPARK_GRAFT_CPUS") {
    assert(sites("GraftSession.builder(") == Map(
      main + "Harness.scala" -> 1,
      main + "Demo.scala" -> 1))
    assert(sites("SPARK_GRAFT_CPUS") == Map(
      main + "Harness.scala" -> 1,
      main + "Verify.scala" -> 1))
  }

  test("no dev main but Harness and Verify clears the session cache") {
    assert(inMains("catalog.clearCache()") == Map(
      main + "Harness.scala" -> 1,
      main + "Verify.scala" -> 1))
  }

  test("trial: one warm-up, a reset, the measured runs, a reset") {
    import spark.implicits._
    var runs = 0
    var cachedAtRun = Seq.empty[Boolean]
    val df = Seq(1, 2, 3).toDF("x").repartition(2)
    val (t, last) = Harness.trial(spark) {
      runs += 1
      cachedAtRun :+= df.storageLevel != StorageLevel.NONE
      df.persist().count()
      runs
    }
    assert(runs == 4 && last == 4 && t >= 0.0)
    // the warm-up's cache is gone before the first measured run, and the
    // last measured run's cache is gone when the trial returns
    assert(cachedAtRun == Seq(false, false, true, true))
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("Bench: one declaration per timed frame, every headline name resolves") {
    // a certified query's operator call lives in SparkEntry.operators
    // only; a bench variant is for what that map cannot state
    assert(Bench.benchVariant.keySet.intersect(SparkEntry.operators.keySet).isEmpty)
    assert(SparkEntry.operators.keySet.subsetOf(SparkEntry.queries.keySet))
    val unresolved = Bench.headline.filter(n =>
      scala.util.Try(Bench.frame(n)).isFailure)
    assert(unresolved.isEmpty, unresolved)
  }

  test("PlanDump: a query's plan text does not depend on what ran before it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, transform}
    def plan(): String = {
      val scored = Seq((1L, 2L, 0.5), (1L, 3L, 0.7), (2L, 3L, 0.1))
        .toDF("query_id", "nn_id", "cos_sim").repartition(2)
      val df = graft.ml.TopK.perQuery(scored, 2)
        .select(col("query_id"), transform(array(col("cos_sim")), x => x + 1).as("t"))
      PlanDump.renumbered(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    val first = plan()
    // moves the session's expression-id, exchange-id and lambda counters
    Seq((1, "a")).toDF("k", "v").repartition(2)
      .select(transform(array(col("k")), x => x * 2)).collect()
    val again = plan()
    assert(again == first, s"$first\n---\n$again")
    assert(first.contains("graft.ml.TopKAgg(k=2)") && first.contains("lambda x_0#"), first)
    // closure class names, as a mapPartitions body prints
    assert(PlanDump.renumbered("M$$$Lambda$4179/0x00007f5e2524@dc72335 N$$$Lambda$12/0x0a@1f " +
      "M$$$Lambda$4179/0x00007f5e2524@dc72335") == "M$$$Lambda0 N$$$Lambda1 M$$$Lambda0")
  }

  test("PlanDump: RDD ids, call-site lines and array hashes renumber like expression ids") {
    // a frame built from an RDD prints the RDD's id and the source line
    // that built it, an array literal its identity hash; none may leak
    // into a plan file
    def scan(rdd: Int, line: Int, hash: String) =
      s"[a#12L], MapPartitionsRDD[$rdd] at createDataFrame at Dedup.scala:$line, ExistingRDD\n" +
        s"[b#13L], MapPartitionsRDD[${rdd + 2}] at localCheckpoint at Dedup.scala:${line + 9}\n" +
        s"pqtable(q#14, [D@$hash, 16, 64, 4)"
    val later = PlanDump.renumbered(scan(1315, 864, "3b00a7b9"))
    assert(later == PlanDump.renumbered(scan(7, 845, "64f514d2")))
    assert(later == "[a#0L], MapPartitionsRDD[0] at createDataFrame at Dedup.scala:0, " +
      "ExistingRDD\n[b#1L], MapPartitionsRDD[1] at localCheckpoint at Dedup.scala:1\n" +
      "pqtable(q#2, [D@0, 16, 64, 4)", later)
  }
}
