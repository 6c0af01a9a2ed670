package graft

import org.scalatest.funsuite.AnyFunSuite

/** SCALING.md's persist-site inventory, enforced: every `.persist(`
  * and `.cache()` in `src/main/scala` must appear in the checked-in
  * per-file counts below, which mirror the §"Persist-site inventory"
  * tables. Adding (or removing) a persist without updating BOTH the
  * inventory prose and this spec fails the build — the inventory
  * stays a contract, not a snapshot. Line numbers are deliberately
  * not asserted (they drift with unrelated edits); the unit of
  * accountability is file × count, which any new site changes.
  */
class PersistInventorySpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  // Comments stripped before counting: a scaladoc line that merely
  // MENTIONS .persist( is not a persist site, and commented-out code
  // is not a live one. Deliberately LINE-based, never a dotall regex:
  // block-comment OPENERS occur inside glob STRING literals in this
  // repo ("$dir/*.tfrecord*" in Export.scala, "$dir/*.warc" in
  // SparkEntry.scala), and a multi-line block-comment regex would
  // swallow every line of real code from there to the next closer —
  // a silent false-PASS, the exact failure this spec exists to stop.
  // Rules: a line whose trimmed form starts with a line comment, a
  // block opener, or '*' (this codebase's scaladoc continuation
  // style) is a comment line; otherwise a trailing line comment
  // truncates only when preceded by an EVEN number of quotes (so
  // "http://..." survives). An inline same-line block comment is
  // left in — over-counting a mention fails LOUD (count mismatch a
  // human reads), which is the safe direction.
  private def stripComments(src: String): String =
    src.linesIterator.flatMap { l =>
      val t = l.trim
      if (t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")) None
      else {
        var i = l.indexOf("//")
        while (i >= 0 && l.substring(0, i).count(_ == '"') % 2 == 1)
          i = l.indexOf("//", i + 1)
        Some(if (i >= 0) l.substring(0, i) else l)
      }
    }.mkString("\n")

  private def countIn(f: java.io.File, needle: String): Int = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val text = try src.mkString finally src.close()
    stripComments(text).linesIterator.count(_.contains(needle))
  }

  private def sites(needle: String): Map[String, Int] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root)
      .map(f => f.getPath.replace('\\', '/') -> countIn(f, needle))
      .filter(_._2 > 0).toMap
  }

  // SCALING.md §"Persist-site inventory": 8 paired + 15 documented-LRU
  private val expectedPersist = Map(
    "src/main/scala/graft/core/CrysFrame.scala" -> 2, // order capture + take draw (LRU)
    "src/main/scala/graft/core/GlobalWindows.scala" -> 2, // sorted base + rank counts (LRU)
    "src/main/scala/graft/ml/Dedup.scala" -> 7, // sig/simhash/keepBest (LRU) + CC input/labels (paired) + near-dup append anchors (paired) + semanticDedup guard assignment (r14, LRU)
    "src/main/scala/graft/ml/Ivf.scala" -> 2, // `holding` (paired: PQ training vectors, calibrated assignment/codes/truth, build assignment) + ivfPqTopK residual assignment (LRU)
    "src/main/scala/graft/ml/Similarity.scala" -> 3, // k-means init (paired) + LSH keys/vecs (LRU)
    "src/main/scala/graft/operators/Skew.scala" -> 1, // saltedJoin guard right side (LRU; guard count + join share one materialization)
    "src/main/scala/graft/streaming/StreamVerbs.scala" -> 1, // nearDupIngest kept batch (paired: finally unpersist)
    "src/main/scala/graft/sources/Export.scala" -> 1, // curriculum sorted RDD (LRU)
    "src/main/scala/graft/VectorStress.scala" -> 1, // recall ground truth (paired)
    "src/main/scala/graft/text/Classifier.scala" -> 1, // NB aggregate (paired)
    "src/main/scala/graft/text/Decontaminate.scala" -> 2) // n-gram explode + span base (LRU)

  // .cache() is persist(MEMORY_AND_DISK) under another name — same
  // inventory duty (SCALING.md lists these under the CC-loop row's
  // release mechanism)
  private val expectedCache = Map(
    "src/main/scala/graft/ml/Dedup.scala" -> 3) // CC loop frames, unpersisted per round

  test("every .persist( in src/main is in the checked-in inventory") {
    val actual = sites(".persist(")
    assert(actual == expectedPersist,
      "\npersist sites drifted from SCALING.md §Persist-site inventory — " +
        "document the new/removed site there AND update this spec.\n" +
        s"actual:   $actual\nexpected: $expectedPersist")
    assert(actual.values.sum == 23) // the inventory's headline count
  }

  test("every .cache() in src/main is in the checked-in inventory") {
    val actual = sites(".cache()")
    assert(actual == expectedCache,
      "\ncache sites drifted from SCALING.md §Persist-site inventory — " +
        "document the new/removed site there AND update this spec.\n" +
        s"actual:   $actual\nexpected: $expectedCache")
  }
}
