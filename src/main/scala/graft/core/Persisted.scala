package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** The one owner of library frame lifetimes. Every persist the library
  * pairs with its own actions goes through a scope, and every release
  * lives here: [[holding]] releases at scope exit, [[keeping]] only when
  * the scope throws. Both persist at MEMORY_AND_DISK (what `cache()`
  * and `persist()` mean for a Dataset). */
private[graft] object Persisted {

  /** A scope's handle: `hold(df)` persists `df` under the scope and
    * returns it; `hold.release(df)` ends one frame's hold early (a loop
    * handing a frame off round to round). */
  final class Hold private[Persisted] () {
    private val held = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def apply(df: DataFrame): DataFrame = {
      held += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    def release(df: DataFrame): Unit = { held -= df; df.unpersist() }
    private[Persisted] def releaseAll(): Unit = held.foreach(_.unpersist())
  }

  /** Run `body` with a `hold` whose frames stay persisted until `body`
    * exits, on success and on every exception path alike. */
  def holding[T](body: Hold => T): T = {
    val hold = new Hold
    try body(hold) finally hold.releaseAll()
  }

  /** Persist, run a check, release only if the check throws: frames
    * held by `body` stay cached when it returns (the documented-LRU
    * contract of a lazily returned frame) and are released if it
    * throws. */
  def keeping[T](body: Hold => T): T = {
    val hold = new Hold
    try body(hold)
    catch { case t: Throwable => hold.releaseAll(); throw t }
  }

  /** Collect a tiny frame (centroids, probe sets) into a LocalRelation:
    * every reader gets it free, and nothing stays in the session cache. */
  def localize(df: DataFrame): (DataFrame, Array[Row]) = {
    val rows = df.collect()
    (df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema), rows)
  }
}
