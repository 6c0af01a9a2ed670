package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory encoding the engine's scale defaults.
  * Local mode for tests/bench; the same conf set is what a cluster
  * submit should carry (minus master). */
object GraftSession {
  /** One place for the log level so every main agrees. NOTE: no
    * window-WARN suppression lives here — the library's one
    * intentionally-single-partition window (the metadata-scale offsets
    * frame in core/GlobalWindows.runningScan) carries a constant
    * non-foldable partition key precisely so WindowExec's "Moving all
    * data to a single partition" WARN stays meaningful: if that line
    * ever appears, it is a USER-authored partition-less window over a
    * data-scale frame — the defect class PlanQualitySpec pins the
    * library against. */
  def setLogLevel(s: SparkSession, level: String): Unit =
    s.sparkContext.setLogLevel(level)

  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE: runtime partition coalescing, skew-join splitting, and
      // dynamic join-strategy switches — the knobs that keep plans
      // healthy when stats are off by 100× at real scale
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.parquet-style TIMESTAMP(NANOS) columns
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // SQL surface for the custom kernels (minhash_sig, simhash64,
      // cosine_sim, ...) — see GraftExtensions
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
