package graft

import org.scalatest.funsuite.AnyFunSuite

/** SCALING.md's persist-site inventory, enforced: every `.persist(`,
  * `.cache()`, `.unpersist(` and `.localCheckpoint(` in `src/main/scala`
  * must appear in the checked-in per-file counts below, which mirror
  * the §"Persist-site inventory" tables. Adding (or removing) a persist
  * without updating BOTH the inventory prose and this spec fails the
  * build — the inventory stays a contract, not a snapshot. Line numbers are deliberately
  * not asserted (they drift with unrelated edits); the unit of
  * accountability is file × count, which any new site changes.
  */
class PersistInventorySpec extends AnyFunSuite {

  import SourceScan.sites

  // SCALING.md §"Persist-site inventory": the raw `.persist(` calls
  // left are the lifetime object's one and the documented-LRU sites;
  // every paired persist is a `hold(...)` under `graft.core.Persisted`
  private val expectedPersist = Map(
    "src/main/scala/graft/core/Persisted.scala" -> 1, // Hold.apply: every holding/keeping site
    "src/main/scala/graft/core/CrysFrame.scala" -> 2, // order capture + take draw (LRU)
    "src/main/scala/graft/core/GlobalWindows.scala" -> 2, // sorted base + rank counts (LRU)
    "src/main/scala/graft/ml/Dedup.scala" -> 3, // sigFrame / simhash projection / keepBest members (LRU)
    "src/main/scala/graft/ml/Similarity.scala" -> 2, // LSH keys/vecs (LRU)
    "src/main/scala/graft/sources/Export.scala" -> 1, // curriculum sorted RDD (LRU)
    "src/main/scala/graft/text/Decontaminate.scala" -> 2) // n-gram explode + span base (LRU)

  // .unpersist( only where a lifetime ends: the lifetime object (scope
  // exit, a throw, and `Hold.release` for the CC loop's round handoff)
  private val expectedUnpersist = Map(
    "src/main/scala/graft/core/Persisted.scala" -> 2) // Hold.release + Hold.releaseAll

  // .localCheckpoint( truncates lineage; ContextCleaner releases its
  // blocks once the frame is unreferenced (SCALING.md lists each)
  private val expectedLocalCheckpoint = Map(
    "src/main/scala/graft/ml/Ivf.scala" -> 1, // calibrated loop's materialized output
    "src/main/scala/graft/text/Bpe.scala" -> 2, // merge-loop vocab: initial + every 4th round
    "src/main/scala/graft/ml/Dedup.scala" -> 1, // CC loop truncation rounds
    "src/main/scala/graft/SparkEntry.scala" -> 2) // q_multimodal's media, q_audio_dedup's fingerprints

  private def inventoried(needle: String, expected: Map[String, Int]): Unit = {
    val actual = sites(needle)
    assert(actual == expected,
      s"\n$needle sites drifted from SCALING.md §Persist-site inventory — " +
        "document the new/removed site there AND update this spec.\n" +
        s"actual:   $actual\nexpected: $expected")
  }

  test("every .persist( in src/main is in the checked-in inventory") {
    inventoried(".persist(", expectedPersist)
    assert(sites(".persist(").values.sum == 13) // the inventory's headline count
  }

  test("every .cache() in src/main is in the checked-in inventory") {
    // none left: a paired persist is a hold, an LRU one a .persist(
    inventoried(".cache()", Map.empty)
  }

  test(".unpersist( occurs only in the lifetime object") {
    inventoried(".unpersist(", expectedUnpersist)
  }

  test("every .localCheckpoint( in src/main is in the checked-in inventory") {
    inventoried(".localCheckpoint(", expectedLocalCheckpoint)
  }
}
