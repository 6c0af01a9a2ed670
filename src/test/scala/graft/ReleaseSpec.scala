package graft

import graft.ml.{Dedup, Pq, Similarity}
import graft.operators.Skew
import graft.streaming.StreamVerbs
import graft.text.Classifier
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Exception-path release for every frame the library persists through
  * `graft.core.Persisted`: a call that fails after it persisted (and
  * read) a frame must leave no persisted RDD behind. One failing call
  * per site — the IVF lifecycle, connected components (both tiers),
  * near-dup ingest, NB compile, the salted-join and semantic-dedup
  * guards — plus the rule that a caller-owned cache is never released,
  * and a successful near-dup ingest that leaves nothing cached. */
class ReleaseSpec extends GraftSpec {

  import spark.implicits._

  private def vecs(n: Int, seed: Long): Seq[Seq[Float]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(8)(r.nextFloat() - 0.5f))
  }

  /** Persisted RDD ids `body` leaves behind. */
  private def leftBy(body: => Any): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  /** Persisted RDD ids the failing `body` leaves behind. */
  private def leakedBy(body: => Any): (Throwable, Set[Int]) = {
    var e: Throwable = null
    val leaked = leftBy { e = intercept[Throwable](body) }
    (e, leaked)
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

  test("connected components releases its input when the local tier refuses a null id") {
    val pairs = Seq((1L, Some(2L)), (2L, None)).toDF("id_a", "id_b")
    val (e, leaked) = leakedBy(Dedup.connectedComponents(pairs).collect())
    assert(e.getMessage.contains("null id"), e.toString)
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("connected components releases its input when the distributed tier fails") {
    // map-typed ids have no ordering and cannot be grouped: the min-label
    // loop fails at analysis, after the input count materialized its cache
    val pairs = Seq((Map("a" -> 1), Map("b" -> 2))).toDF("id_a", "id_b")
    val (e, leaked) = leakedBy(
      Dedup.connectedComponents(pairs, localEdgeLimit = 0L).collect())
    info(s"failed with ${e.getClass.getSimpleName}")
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("connected components never releases a caller-cached input") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      pairs.count()
      val labels = Dedup.connectedComponents(pairs, localEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
      assert(pairs.storageLevel == StorageLevel.MEMORY_ONLY)
      val bad = Seq((7L, Some(8L)), (8L, None)).toDF("id_a", "id_b")
        .persist(StorageLevel.MEMORY_ONLY)
      try {
        intercept[IllegalArgumentException](Dedup.connectedComponents(bad).collect())
        assert(bad.storageLevel == StorageLevel.MEMORY_ONLY)
      } finally bad.unpersist()
    } finally pairs.unpersist()
  }

  /** A two-document near-dup index and a fresh one-document batch. */
  private def nearDupIndex(): (String, org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "pack my box with five dozen liquor jugs for the journey north"))
      .toDF("doc_id", "text")
    Dedup.buildNearDupIndex(corpus, "doc_id", "text", dir,
      numHashes = 64, bands = 16, shingleSize = 4)
    (dir, Seq((10L, "an entirely fresh document about distributed query engines"))
      .toDF("doc_id", "text"))
  }

  test("near-dup ingest releases its kept batch when the sink throws") {
    val (dir, batch) = nearDupIndex()
    val ingest = StreamVerbs.nearDupIngest(dir, "doc_id", "text", threshold = 0.7) {
      (kept, _) => kept.count(); throw new IllegalStateException("sink down")
    }
    val (e, leaked) = leakedBy(ingest(batch, 0L))
    assert(e.getMessage == "sink down", e.toString)
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("a successful near-dup ingest that appends its batch leaves nothing cached") {
    // the batch's signatures are read once by the probe and once by the
    // append's anchor fold: neither may stay in the cache per micro-batch
    // (a registered entry counts even before its RDD materializes)
    val (dir, batch) = nearDupIndex()
    spark.catalog.clearCache()
    var sunk = -1L
    val ingest = StreamVerbs.nearDupIngest(dir, "doc_id", "text", threshold = 0.7,
      appendKept = true) { (kept, _) => sunk = kept.count() }
    val left = leftBy(ingest(batch, 0L))
    assert(sunk == 1L)
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
    assert(spark.sharedState.cacheManager.isEmpty, "a cache entry outlived the micro-batch")
    // appended: the batch now dedups against itself
    assert(Dedup.dedupAgainstNearIndexed(batch, dir, "doc_id", "text", threshold = 0.7)
      .isEmpty)
  }

  test("compileNb releases its model when the vocabulary is over maxVocab") {
    val train = Seq(("a b c d e f", true), ("g h i j", false)).toDF("text", "lab")
    val (e, leaked) = leakedBy(
      Classifier.compileNb(train, "text", col("lab"), maxVocab = 3L))
    assert(e.getMessage.contains("maxVocab"), e.toString)
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("saltedJoin releases its right side when the replication budget refuses") {
    val left = (0 until 50).map(i => (s"k${i % 3}", i)).toDF("k", "v")
    // repartitioned: a bare LocalRelation is sized from the plan, not persisted
    val right = (0 until 100).map(i => (s"k${i % 7}", s"dim$i")).toDF("k", "d")
      .repartition(2)
    val (e, leaked) = leakedBy(Skew.saltedJoin(left, right, Seq("k"),
      saltBuckets = 8, replicationBudget = 500L))
    assert(e.getMessage.contains("replicated rows"), e.toString)
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("semanticDedupWithCentroids releases its assignment when the cluster budget refuses") {
    val df = (0L until 50L).map(i => (i, Seq(1f, 0f))).toDF("id", "vec")
    val cents = Dedup.semanticCentroids(df, "id", "vec", nLists = 4)
    val (e, leaked) = leakedBy(Dedup.semanticDedupWithCentroids(df, "id", "vec",
      threshold = 0.9, cents = cents, clusterBudget = 10L))
    assert(e.getMessage.contains("clusterBudget"), e.toString)
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }
}
