package graft

import graft.ml.{Dedup, Pq, Similarity}
import org.apache.spark.sql.functions._

/** r12: incremental append for the three persisted indexes — the
  * recurring-ingest path that previously forced a full rebuild per
  * cycle. The invariants pinned here:
  *   - FROZEN GEOMETRY: appends assign/encode/band strictly under the
  *     parameters stored in the index, so probe routing and batch
  *     placement can never disagree — probing an appended index equals
  *     probing a rebuild that used the same frozen geometry;
  *   - UNCHANGED BASE: an append can add candidates but never lose or
  *     reorder pre-existing ones;
  *   - DRIFT EVIDENCE: each append returns a measured statistic
  *     (mean angular D² vs the stored build baseline for IVF/IVF-PQ;
  *     new-bucket fraction + per-bucket anchor-row count for the
  *     near-dup index) with documented rebuild thresholds.
  */
class IndexAppendSpec extends GraftSpec {

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ---- IVF ------------------------------------------------------------

  /** 10 tight clusters, dim 8 — build meanD2 is small and controlled,
    * so drift readings are interpretable in the tests below. */
  private def clustered(n: Int, idBase: Long, seed: Int) = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val centers = Array.fill(10)(Array.fill(8)(rng.nextGaussian()))
    (0 until n).map { i =>
      val c = centers(i % 10)
      (idBase + i, c.map(x => (x + 0.02 * rng.nextGaussian()).toFloat).toSeq)
    }.toDF("id", "vec")
  }

  test("IVF append: full-probe equality with brute force over the union") {
    import spark.implicits._
    val dir = tmp("ivfappend")
    val a = clustered(200, 0L, seed = 5)
    val b = clustered(50, 1000L, seed = 5) // same clusters, new ids
    Similarity.buildIvfIndex(a, "id", "vec", dir, nLists = 8)
    val stats = Similarity.appendToIvfIndex(b, "id", "vec", dir)
    assert(stats.appendedRows == 50L)
    assert(stats.generation == 1L)
    // same distribution under the frozen centroids: drift ~1, well
    // under the documented 1.5 rebuild line
    assert(!stats.rebuildRecommended,
      f"same-distribution batch flagged for rebuild (drift ${stats.drift}%.3f)")
    assert(stats.drift > 0.2 && stats.drift < 1.5, stats.toString)
    // probing ALL lists makes IVF exhaustive — results must equal brute
    // force over A∪B exactly, proving the appended rows live in the
    // lists the probe scans
    val union = a.union(b)
    val queries = union.filter(col("id") % 40 === 0).limit(6)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "nn_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(t => (t._1, t._2)).toSeq
    val indexed = Similarity.ivfTopKIndexed(spark, dir, queries, "id", "vec",
      k = 5, nProbe = 8)
    val brute = Similarity.bruteForceTopK(union, "id", "vec",
      queries, "id", "vec", k = 5)
    assert(canon(indexed) == canon(brute))
  }

  test("IVF append: base results unchanged, planted batch neighbor found") {
    val dir = tmp("ivfappend2")
    val a = clustered(200, 0L, seed = 9)
    Similarity.buildIvfIndex(a, "id", "vec", dir, nLists = 8)
    val queries = a.filter(col("id") < 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "nn_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(t => (t._1, t._2)).toSeq
    val before = canon(Similarity.ivfTopKIndexed(spark, dir, queries, "id", "vec",
      k = 3, nProbe = 2))
    // batch: exact copies of query vectors under fresh ids — the
    // nearest possible neighbors, placed by the FROZEN centroids into
    // exactly the list the probe ranks first
    val copies = a.filter(col("id") < 3)
      .select((col("id") + 5000L).as("id"), col("vec"))
    Similarity.appendToIvfIndex(copies, "id", "vec", dir)
    val after = Similarity.ivfTopKIndexed(spark, dir, queries, "id", "vec",
      k = 3, nProbe = 2)
    val top = after.filter(col("rank") === 1).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nn_id"))).toMap
    (0L until 3L).foreach(q =>
      assert(top(q) == q + 5000L, s"query $q top-1 was ${top(q)}, not its planted copy"))
    // pre-existing neighbors were not lost — they shift down by exactly
    // the one inserted copy (k=3: old ranks 1,2 survive as 2,3)
    val afterSets = canon(after).groupBy(_._1).view
      .mapValues(_.map(_._3).toSet).toMap
    before.groupBy(_._1).view.mapValues(_.map(_._3).take(2).toSet).toMap
      .foreach { case (q, olds) =>
        assert(olds.subsetOf(afterSets(q) - (q + 5000L)),
          s"query $q lost pre-append neighbors: had $olds, now ${afterSets(q)}") }
  }

  test("IVF append: shifted batch crosses the drift rebuild threshold") {
    import spark.implicits._
    val dir = tmp("ivfdrift")
    val a = clustered(200, 0L, seed = 21)
    Similarity.buildIvfIndex(a, "id", "vec", dir, nLists = 8)
    // a batch the frozen centroids have never seen: random gaussians
    // sit far from every tight-cluster centroid, so mean D² explodes
    // relative to the 0.02-noise build baseline
    val rng = new scala.util.Random(77)
    val shifted = (0 until 50).map(i =>
      (9000L + i, Seq.fill(8)(rng.nextGaussian().toFloat))).toDF("id", "vec")
    val stats = Similarity.appendToIvfIndex(shifted, "id", "vec", dir)
    assert(stats.rebuildRecommended,
      f"distribution shift not flagged: drift ${stats.drift}%.3f " +
        f"(batch ${stats.batchMeanD2}%.4f vs base ${stats.baseMeanD2}%.4f)")
    // the stats table is a readable time series: gen 0 (build) + gen 1
    val gens = spark.read.parquet(s"$dir/stats")
      .select("generation").collect().map(_.getLong(0)).sorted.toSeq
    assert(gens == Seq(0L, 1L), gens.toString)
  }

  test("IVF append refuses mismatched batch dim and element type (frozen geometry)") {
    import spark.implicits._
    val dir = tmp("ivfvalidate")
    val a = clustered(200, 0L, seed = 5) // dim 8, array<float>
    Similarity.buildIvfIndex(a, "id", "vec", dir, nLists = 8)
    // wrong dim: the frozen centroids cannot assign it — fail BEFORE
    // any delta file lands, not at probe time
    val rng = new scala.util.Random(3)
    val wrongDim = (0 until 5).map(i =>
      (5000L + i, Seq.fill(5)(rng.nextGaussian().toFloat))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException](
      Similarity.appendToIvfIndex(wrongDim, "id", "vec", dir))
    assert(e.getMessage.contains("dim 5") && e.getMessage.contains("dim 8"),
      e.getMessage)
    // wrong element type: array<double> into an array<float> index
    // would mix parquet schemas inside lists/
    val doubled = clustered(5, 6000L, seed = 5)
      .select(col("id"), col("vec").cast("array<double>").as("vec"))
    val e2 = intercept[IllegalArgumentException](
      Similarity.appendToIvfIndex(doubled, "id", "vec", dir))
    assert(e2.getMessage.contains("array<double>") &&
      e2.getMessage.contains("array<float>"), e2.getMessage)
    // non-array column refused outright
    val scalar = Seq((1L, 1.0)).toDF("id", "vec")
    val e3 = intercept[IllegalArgumentException](
      Similarity.appendToIvfIndex(scalar, "id", "vec", dir))
    assert(e3.getMessage.contains("not an array"), e3.getMessage)
    // nothing landed: the index still probes exactly as built
    assert(spark.read.parquet(s"$dir/lists").count() == 200L)
  }

  test("IVF-PQ append refuses a batch whose dim breaks the frozen codebook") {
    import spark.implicits._
    val dir = tmp("pqvalidate")
    val a = clustered(300, 0L, seed = 13) // dim 8
    Pq.buildIvfPqIndex(a, "id", "vec", dir, m = 4, pqK = 32, nLists = 8, iters = 1)
    val rng = new scala.util.Random(9)
    val wrongDim = (0 until 5).map(i =>
      (5000L + i, Seq.fill(12)(rng.nextGaussian().toFloat))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException](
      Pq.appendToIvfPqIndex(wrongDim, "id", "vec", dir))
    assert(e.getMessage.contains("dim 12") && e.getMessage.contains("dim 8"),
      e.getMessage)
    assert(spark.read.parquet(s"$dir/lists").count() == 300L)
  }

  // ---- IVF-PQ ----------------------------------------------------------

  test("IVF-PQ append: frozen codebook+centroids, planted copy found via re-rank") {
    val dir = tmp("pqappend")
    val a = clustered(300, 0L, seed = 13)
    Pq.buildIvfPqIndex(a, "id", "vec", dir, m = 4, pqK = 32, nLists = 8, iters = 1)
    val queries = a.filter(col("id") < 3)
    val copies = a.filter(col("id") < 3)
      .select((col("id") + 7000L).as("id"), col("vec"))
    val stats = Pq.appendToIvfPqIndex(copies, "id", "vec", dir)
    assert(stats.appendedRows == 3L && stats.generation == 1L)
    // no drift assertion here: a 3-row batch's mean D² is sampling
    // noise (the 50-row IVF test pins same-distribution drift < 1.5);
    // what must hold is that the statistic was measured and stored
    assert(!stats.batchMeanD2.isNaN && !stats.baseMeanD2.isNaN, stats.toString)
    val union = a.union(copies)
    // rerank must exceed the ~30-member cluster size: ADC collapses a
    // tight cluster to one code, ties break by id, and the high-id
    // copy would miss a shorter ADC shortlist
    val res = Pq.ivfPqTopKIndexed(spark, dir, queries, "id", "vec",
      k = 3, nProbe = 8, rerank = 50,
      rerankFrom = union, rerankIdCol = "id", rerankVecCol = "vec")
    val top = res.filter(col("rank") === 1).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nn_id"))).toMap
    (0L until 3L).foreach(q =>
      assert(top(q) == q + 7000L,
        s"query $q top-1 was ${top(q)}, not its planted copy — the appended " +
          "codes did not land in the probed list or ADC misranked an exact copy"))
  }

  // ---- near-dup (MinHash anchors) ---------------------------------------

  private def corpusA = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "pack my box with five dozen liquor jugs for the journey north"),
      (2L, "sphinx of black quartz judge my vow said the old librarian"))
      .toDF("doc_id", "text")
  }

  private def corpusB = {
    import spark.implicits._
    Seq(
      (10L, "distributed query engines shuffle partitioned data across many executors"),
      (11L, "vectorized columnar execution amortizes dispatch over entire batches"))
      .toDF("doc_id", "text")
  }

  // near-copies of one A doc and one B doc, plus fresh rows
  private def probeBatch = {
    import spark.implicits._
    ((0 until 5).map(i =>
      (100L + i, s"the quick brown fox jumps over the lazy dog again and again $i")) ++
      (0 until 5).map(i =>
        (300L + i, s"distributed query engines shuffle partitioned data across many executors $i")) ++
      (0 until 5).map(i =>
        (200L + i, s"completely unrelated content number $i with its own words entirely")))
      .toDF("doc_id", "text")
  }

  test("near-dup append ≡ rebuild when no bucket overflows maxPartners") {
    val dirApp = tmp("ndapp")
    val dirReb = tmp("ndreb")
    Dedup.buildNearDupIndex(corpusA, "doc_id", "text", dirApp,
      numHashes = 64, bands = 16, shingleSize = 4)
    // pre-append probe: only A-dups drop
    val preKept = Dedup.dedupAgainstNearIndexed(probeBatch, dirApp,
        "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(preKept == ((200L until 205L) ++ (300L until 305L)).toSet, preKept.toString)
    val stats = Dedup.appendToNearDupIndex(corpusB, "doc_id", "text", dirApp)
    assert(stats.anchorRows > 0)
    // disjoint vocabulary: essentially every B bucket is new
    assert(stats.newBucketFraction > 0.9, stats.toString)
    assert(!stats.compactionRecommended, stats.toString)
    Dedup.buildNearDupIndex(corpusA.union(corpusB), "doc_id", "text", dirReb,
      numHashes = 64, bands = 16, shingleSize = 4)
    val appKept = Dedup.dedupAgainstNearIndexed(probeBatch, dirApp,
        "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rebKept = Dedup.dedupAgainstNearIndexed(probeBatch, dirReb,
        "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(appKept == rebKept, s"append=$appKept rebuild=$rebKept")
    // the append did real work: B-dups now drop too, fresh rows survive
    assert(appKept == (200L until 205L).toSet, appKept.toString)
    // and the appended index can only drop MORE than the pre-append one
    assert(appKept.subsetOf(preKept))
  }

  test("near-dup append: repeated generations trip the compaction signal") {
    val dir = tmp("ndcompact")
    Dedup.buildNearDupIndex(corpusA, "doc_id", "text", dir,
      numHashes = 32, bands = 8, shingleSize = 4)
    // each append of the SAME content adds one anchor row to the same
    // buckets; generation 8 pushes a bucket past the documented
    // threshold (build + 8 appends = 9 rows > 8)
    val last = (1 to 8).map { g =>
      import spark.implicits._
      val b = Seq((1000L * g,
        "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text")
      Dedup.appendToNearDupIndex(b, "doc_id", "text", dir)
    }.last
    assert(last.compactionRecommended,
      s"9 anchor generations in one bucket not flagged: $last")
    assert(last.newBucketFraction == 0.0, last.toString) // nothing new
    // correctness is untouched by the pile-up: the probe still drops
    // near-copies and keeps fresh rows
    val kept = Dedup.dedupAgainstNearIndexed(probeBatch, dir,
        "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == ((200L until 205L) ++ (300L until 305L)).toSet, kept.toString)
  }

  test("near-dup compaction re-folds the append chain to the fresh-build anchor set") {
    val dirApp = tmp("ndcompactop")
    val dirReb = tmp("ndcompactref")
    Dedup.buildNearDupIndex(corpusA, "doc_id", "text", dirApp,
      numHashes = 64, bands = 16, shingleSize = 4)
    Dedup.appendToNearDupIndex(corpusB, "doc_id", "text", dirApp)
    // a second generation re-appending A content under fresh ids piles
    // more rows into A's buckets (and duplicates one id's (id, sig)
    // member NOWHERE — fresh ids; the exact-duplicate fold case is the
    // re-append below)
    Dedup.appendToNearDupIndex(
      corpusA.select((col("doc_id") + 50L).as("doc_id"), col("text")),
      "doc_id", "text", dirApp)
    // re-append the SAME rows: the compacted fold must hold each
    // (id, sig) once, like a fresh build would
    Dedup.appendToNearDupIndex(corpusB, "doc_id", "text", dirApp)
    val preProbe = Dedup.dedupAgainstNearIndexed(probeBatch, dirApp,
        "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val buckets = spark.read.parquet(s"$dirApp/anchors")
      .groupBy("__bkey").count().filter(col("count") > 1).count()
    assert(buckets > 0, "fixture never stacked a bucket — compaction untested")
    val compacted = Dedup.compactNearDupIndex(spark, dirApp)
    // one row per bucket again, everywhere
    val anchors = spark.read.parquet(s"$dirApp/anchors")
    assert(anchors.groupBy("__bkey").count().filter(col("count") > 1).count() == 0L)
    assert(anchors.count() == compacted)
    // probe results unchanged by compaction (no bucket overflowed)
    val postProbe = Dedup.dedupAgainstNearIndexed(probeBatch, dirApp,
        "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(postProbe == preProbe, s"pre=$preProbe post=$postProbe")
    // the strong pin: compacted anchors ≡ a FRESH BUILD over the same
    // accumulated corpus, bucket for bucket, member for member
    Dedup.buildNearDupIndex(
      corpusA.union(corpusB)
        .union(corpusA.select((col("doc_id") + 50L).as("doc_id"), col("text"))),
      "doc_id", "text", dirReb, numHashes = 64, bands = 16, shingleSize = 4)
    def canonAnchors(dir: String) =
      spark.read.parquet(s"$dir/anchors")
        .select(col("__bkey"), explode(col("__anchors")).as("__a"))
        .select(col("__bkey"), col("__a").getField("id").as("id"),
          col("__a").getField("sig").cast("string").as("sig"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sorted.toSeq
    assert(canonAnchors(dirApp) == canonAnchors(dirReb),
      "compacted anchors diverged from a fresh build over the same corpus")
    // params survived the swap
    val p = spark.read.parquet(s"$dirApp/anchors")
      .select("num_hashes", "bands", "shingle_size", "max_partners").head()
    assert((p.getInt(0), p.getInt(1), p.getInt(2), p.getInt(3)) == (64, 16, 4, 64))
  }

  test("compaction resets the probe-cost signal the appends tripped") {
    val dir = tmp("ndcompactreset")
    Dedup.buildNearDupIndex(corpusA, "doc_id", "text", dir,
      numHashes = 32, bands = 8, shingleSize = 4)
    val tripped = (1 to 8).map { g =>
      import spark.implicits._
      val b = Seq((1000L * g,
        "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text")
      Dedup.appendToNearDupIndex(b, "doc_id", "text", dir)
    }.last
    assert(tripped.compactionRecommended)
    Dedup.compactNearDupIndex(spark, dir)
    // the NEXT append's reading starts from the re-folded single rows:
    // 1 existing row + 1 appended row per touched bucket
    val after = {
      import spark.implicits._
      Dedup.appendToNearDupIndex(
        Seq((9999L, "the quick brown fox jumps over the lazy dog again and again"))
          .toDF("doc_id", "text"), "doc_id", "text", dir)
    }
    assert(!after.compactionRecommended,
      s"signal still tripped after compaction: $after")
    assert(after.maxAnchorRowsPerBucket == 2L, after.toString)
  }

  test("IVF rebuild: retrained in place from stored rows, drift series reset") {
    val dir = tmp("ivfrebuild")
    val a = clustered(200, 0L, seed = 21)
    Similarity.buildIvfIndex(a, "id", "vec", dir, nLists = 8)
    // a CLUSTERED batch around 10 centers the frozen centroids never
    // saw (clustered() derives centers from its seed): drift trips —
    // and unlike diffuse random noise, this shifted distribution is
    // LEARNABLE, so a rebuild genuinely fixes it
    val s1 = Similarity.appendToIvfIndex(clustered(200, 9000L, seed = 99),
      "id", "vec", dir)
    assert(s1.rebuildRecommended, s1.toString)
    // auto nLists re-derives √400 = 20 from the GROWN index — enough
    // centroid budget for both cluster families
    Similarity.rebuildIvfIndex(spark, dir)
    // the rebuilt index holds every accumulated row and probes like
    // brute force when exhaustive
    val union = spark.read.parquet(s"$dir/lists").select("id", "vec")
    assert(union.count() == 400L)
    val queries = union.filter(col("id").isin(0L, 9001L, 9040L))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "nn_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val indexed = Similarity.ivfTopKIndexed(spark, dir, queries, "id", "vec",
      k = 5, nProbe = 64)
    val brute = Similarity.bruteForceTopK(union, "id", "vec",
      queries, "id", "vec", k = 5)
    assert(canon(indexed) == canon(brute))
    // drift series reset: ONE generation-0 row trained on the union —
    // and a batch from the ONCE-drifting distribution now reads ≈ 1
    // (the retrained centroids describe it)
    val gens = spark.read.parquet(s"$dir/stats")
      .select("generation").collect().map(_.getLong(0)).toSeq
    assert(gens == Seq(0L), gens.toString)
    val s2 = Similarity.appendToIvfIndex(clustered(100, 20000L, seed = 99),
      "id", "vec", dir)
    assert(!s2.rebuildRecommended,
      f"post-rebuild same-distribution drift still trips: ${s2.drift}%.3f")
    assert(s2.drift < 1.5 && s2.generation == 1L, s2.toString)
  }

  test("IVF append refuses an index without a stats table; rebuildIvfIndex converts it") {
    val dir = tmp("ivfnostats")
    Similarity.buildIvfIndex(clustered(200, 0L, seed = 5), "id", "vec", dir, nLists = 8)
    // an index built before drift tracking has no stats/ table
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/stats"), true)
    def listing() = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSet
    }
    val before = listing()
    val batch = clustered(50, 1000L, seed = 5)
    val e = intercept[IllegalArgumentException](
      Similarity.appendToIvfIndex(batch, "id", "vec", dir))
    assert(e.getMessage.contains("rebuildIvfIndex"), e.getMessage)
    assert(listing() == before, "the refused append wrote into the index")
    Similarity.rebuildIvfIndex(spark, dir, nLists = 8)
    val stats = Similarity.appendToIvfIndex(batch, "id", "vec", dir)
    assert(stats.generation == 1L && !stats.drift.isNaN && !stats.drift.isInfinite,
      stats.toString)
  }

  test("IVF-PQ rebuild: frozen compression geometry, fresh codebook, stats reset") {
    val dir = tmp("pqrebuild")
    val a = clustered(300, 0L, seed = 13)
    Pq.buildIvfPqIndex(a, "id", "vec", dir, m = 4, pqK = 32, nLists = 8, iters = 1)
    val copies = a.filter(col("id") < 3)
      .select((col("id") + 7000L).as("id"), col("vec"))
    Pq.appendToIvfPqIndex(copies, "id", "vec", dir)
    val union = a.union(copies)
    // rebuild re-reads the SOURCE vectors (the PQ index stores codes);
    // m/pqK come from the stored model, not the caller
    Pq.rebuildIvfPqIndex(union, "id", "vec", dir, nLists = 8, iters = 1)
    val m2 = spark.read.parquet(s"$dir/model").head()
    assert((m2.getAs[Int]("m"), m2.getAs[Int]("k")) == (4, 32),
      "rebuild changed the compression contract")
    assert(spark.read.parquet(s"$dir/lists").count() == 303L)
    val gens = spark.read.parquet(s"$dir/stats")
      .select("generation").collect().map(_.getLong(0)).toSeq
    assert(gens == Seq(0L), gens.toString)
    // the rebuilt index still retrieves the planted copies via re-rank
    val queries = a.filter(col("id") < 3)
    val res = Pq.ivfPqTopKIndexed(spark, dir, queries, "id", "vec",
      k = 3, nProbe = 8, rerank = 50,
      rerankFrom = union, rerankIdCol = "id", rerankVecCol = "vec")
    val top = res.filter(col("rank") === 1).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nn_id"))).toMap
    (0L until 3L).foreach(q =>
      assert(top(q) == q + 7000L, s"query $q top-1 was ${top(q)} post-rebuild"))
  }

  test("two-rename swap: stale .old residue is cleared, none left behind, probes consistent across the swap") {
    // r14 (r13 verdict #3): compaction/rebuild swap via rename-aside +
    // rename-in, never delete-then-rename — this pins (a) a stale
    // `.old` aside from a crashed prior swap does not wedge the next
    // one, (b) a completed swap leaves no .old/.compacting/.rebuild
    // residue, (c) probe results straddling the swap are identical.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))

    // near-dup compaction
    val nd = tmp("ndswap")
    Dedup.buildNearDupIndex(corpusA, "doc_id", "text", nd,
      numHashes = 64, bands = 16, shingleSize = 4)
    Dedup.appendToNearDupIndex(corpusB, "doc_id", "text", nd)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$nd/anchors.old")) // stale aside
    val before = Dedup.dedupAgainstNearIndexed(probeBatch, nd,
      "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    Dedup.compactNearDupIndex(spark, nd)
    val after = Dedup.dedupAgainstNearIndexed(probeBatch, nd,
      "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after == before, "compaction swap changed probe results")
    assert(!exists(s"$nd/anchors.old") && !exists(s"$nd/.compacting"),
      "compaction left swap residue")

    // IVF rebuild (exercises IndexStats.swapIn per subdirectory)
    val ivf = tmp("ivfswap")
    val a = clustered(200, 0L, seed = 31)
    Similarity.buildIvfIndex(a, "id", "vec", ivf, nLists = 8)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$ivf/lists.old")) // stale aside
    val queries = a.filter(col("id") < 3)
    def canon() = Similarity.ivfTopKIndexed(spark, ivf, queries, "id", "vec",
        k = 5, nProbe = 64).select("query_id", "rank", "nn_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val preReb = canon()
    Similarity.rebuildIvfIndex(spark, ivf, nLists = 8)
    // same rows, exhaustive probe: the rebuild must answer identically
    assert(canon() == preReb, "rebuild swap changed exhaustive-probe results")
    Seq("lists", "centroids", "stats").foreach { sub =>
      assert(!exists(s"$ivf/$sub.old"), s"$sub.old residue after rebuild")
    }
    assert(!exists(s"$ivf/.rebuild"), ".rebuild residue after rebuild")
  }

  test("near-dup append refuses an empty (anchor-less) index") {
    import spark.implicits._
    val dir = tmp("ndempty")
    Dedup.buildNearDupIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", dir, numHashes = 64, bands = 16, shingleSize = 4)
    val e = intercept[IllegalArgumentException](
      Dedup.appendToNearDupIndex(corpusB, "doc_id", "text", dir))
    assert(e.getMessage.contains("no anchors"), e.getMessage)
  }
}
