package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** The in-band certificates the rows-only queries carry
  * (`SparkEntry.certifyKeys`, `SparkEntry.certifyFloors`): a passing
  * certificate leaves rows and schema as they are, a failing one
  * raises with a message that names what failed. */
class CertificateSpec extends GraftSpec {
  import spark.implicits._

  /** The message chain of the failure collecting `df` raises. */
  private def failure(df: DataFrame): String = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
  }

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)

  // id is non-nullable (a primitive field), note is nullable
  private val result = Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("id", "note")

  test("equal key sets pass rows and schema through unchanged") {
    val out = SparkEntry.certifyKeys(result, Seq(3L, 1L, 2L).toDF("id"), Seq("id"), "test")
    assert(out.schema == result.schema)
    assert(rows(out) == rows(result))
  }

  test("a missing key and an extra key each raise, naming that key") {
    val missing = failure(SparkEntry.certifyKeys(result,
      Seq(1L, 2L, 3L, 7L).toDF("id"), Seq("id"), "demo keep-set"))
    assert(missing.contains("demo keep-set certificate failed: missing id=7"), missing)
    val extra = failure(SparkEntry.certifyKeys(result,
      Seq(1L, 3L).toDF("id"), Seq("id"), "demo keep-set"))
    assert(extra.contains("demo keep-set certificate failed: unexpected id=2"), extra)
  }

  test("the message names the first differing key, all its columns") {
    val pairs = Seq((1L, 2L, 0), (1L, 3L, 1), (2L, 3L, 2)).toDF("id_a", "id_b", "hamming")
    val msg = failure(SparkEntry.certifyKeys(pairs.filter(col("id_a") === 1L),
      pairs.filter(col("hamming") =!= 1), Seq("id_a", "id_b", "hamming"), "pairs"))
    assert(msg.contains("pairs certificate failed: unexpected id_a=1, id_b=3, hamming=1"), msg)
  }

  test("null keys sit out on both sides") {
    val withNull = Seq(Some(1L), None, Some(2L)).toDF("id")
    val out = SparkEntry.certifyKeys(withNull, Seq(Some(2L), Some(1L), None, None).toDF("id"),
      Seq("id"), "test")
    assert(rows(out) == rows(withNull))
    assert(SparkEntry.certifyKeys(result, Seq(Some(1L), Some(2L), Some(3L), None).toDF("id"),
      Seq("id"), "test").count() == 3)
  }

  test("the threshold certificate raises below its floor and passes at it") {
    def stats(overlap: Long, recall: Double) =
      Seq((overlap, recall)).toDF("overlap", "measured_recall")
    val at = SparkEntry.certifyFloors(result, stats(35L, 0.7), "ann",
      "overlap" -> 35, "measured_recall" -> 0.7)
    assert(at.schema == result.schema)
    assert(rows(at) == rows(result))
    val low = failure(SparkEntry.certifyFloors(result, stats(34L, 0.9), "ann",
      "overlap" -> 35, "measured_recall" -> 0.7))
    assert(low.contains("ann certificate failed: overlap=34 (floor 35) " +
      "measured_recall=0.9 (floor 0.7)"), low)
    val lowRecall = failure(SparkEntry.certifyFloors(result, stats(50L, 0.69), "ann",
      "overlap" -> 35, "measured_recall" -> 0.7))
    assert(lowRecall.contains("measured_recall=0.69 (floor 0.7)"), lowRecall)
    // an empty result still raises: the certificate row does not ride it
    val empty = failure(SparkEntry.certifyFloors(result.filter(lit(false)),
      stats(0L, 0.0), "ann", "overlap" -> 35))
    assert(empty.contains("overlap=0 (floor 35)"), empty)
  }
}
