package graft

import graft.ml.{Pq, Similarity}

/** Exception-path release for the IVF lifecycle: an ANN call that fails
  * after it persisted its corpus-scale frames must leave no persisted
  * RDD behind — one per scorer for the calibrated loop, plus the IVF-PQ
  * build. */
class IvfReleaseSpec extends GraftSpec {

  import spark.implicits._

  private def vecs(n: Int, seed: Long): Seq[Seq[Float]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(8)(r.nextFloat() - 0.5f))
  }

  /** Persisted RDD ids the failing `body` leaves behind. */
  private def leakedBy(body: => Any): (Throwable, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val e = intercept[Throwable](body)
    (e, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }

  test("exact-cosine calibrated call releases its persists when the truth pass fails") {
    // string corpus ids meet long query ids: under ANSI the self-exclusion
    // comparison casts every corpus id, so the first pass that compares
    // them — the truth pass over the persisted assignment — fails at run
    // time, after the assignment materialized
    val corpus = vecs(300, 1L).zipWithIndex.map { case (v, i) => (s"v$i", v) }
      .toDF("id", "vec")
    val queries = vecs(10, 2L).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("qid", "qvec")
    val (e, leaked) = leakedBy(Similarity.ivfTopKCalibrated(corpus, "id", "vec",
      queries, "qid", "qvec", k = 5, nLists = 8).collect())
    info(s"failed with ${e.getClass.getSimpleName}")
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("ADC calibrated call releases its persists when codebook training refuses") {
    // pqK above the batch size trips trainVecs' require after the shared
    // assignment and the training vectors were persisted and read
    val corpus = vecs(40, 3L).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
    val (e, leaked) = leakedBy(Pq.ivfPqTopKCalibrated(corpus, "id", "vec",
      corpus, "id", "vec", k = 5, m = 4, pqK = 64, nLists = 4).collect())
    assert(e.isInstanceOf[IllegalArgumentException] &&
      e.getMessage.contains("at least k"), e.toString)
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("IVF-PQ build releases its persists when codebook training refuses") {
    val corpus = vecs(40, 4L).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq-fail").toString
    val (e, leaked) = leakedBy(Pq.buildIvfPqIndex(corpus, "id", "vec", path,
      m = 4, pqK = 64, nLists = 4))
    assert(e.isInstanceOf[IllegalArgumentException] &&
      e.getMessage.contains("at least k"), e.toString)
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }
}
