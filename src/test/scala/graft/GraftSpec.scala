package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      // one JVM runs every suite: the default 100-entry generated-class
      // cache evicts plans the fuzz campaigns rebuild seed after seed,
      // re-paying Janino on each. It changes no result.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  /** Run `body` once per seed, four seeds at a time, and fail with
    * the LOWEST failing seed's error (so a red run names the same seed
    * a sequential loop would). For fuzz campaigns whose cases are
    * independent: each case's wall is mostly driver-side planning,
    * codegen and micro-batch bookkeeping on tiny frames, which a
    * sequential loop leaves the local[4] executor idle through. Every
    * seed still runs to completion and is checked. The seeds share the
    * one session, so `body` must keep to its own frames, sink names and
    * directories: no cache clear, no session conf change. */
  protected def forEachSeed(seeds: Seq[Int])(body: Int => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val failures =
      try {
        seeds.map(s => s -> pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
          def call(): Option[Throwable] =
            try { body(s); None } catch { case e: Throwable => Some(e) }
        })).flatMap { case (s, f) => f.get().map(s -> _) }
      } finally pool.shutdownNow()
    failures.sortBy(_._1).headOption.foreach { case (_, e) => throw e }
  }
}
