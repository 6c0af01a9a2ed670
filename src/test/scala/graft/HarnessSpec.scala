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
}
