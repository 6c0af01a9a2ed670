package graft

import org.apache.spark.sql.functions._
import graft.ml.{Pq, Similarity}
import graft.functions.PqKernels

/** ml.Pq — product quantization. Exactness where exactness is
  * defined (codes on planted centroids, ADC arithmetic vs spec-local
  * math, determinism); measured recall where the operator is
  * approximate by design (ADC full scan and IVF-PQ vs the exact
  * brute force, with re-rank restoring precision). */
class PqSpec extends GraftSpec {

  import spark.implicits._

  private lazy val dir = "/root/testdata/sf0.01"

  private def rng(seed: Long): () => Long = {
    var h = seed * 0x9E3779B97F4A7C15L
    () => { h ^= h << 13; h ^= h >>> 7; h ^= h << 17; h }
  }

  private def randVec(r: () => Long, dim: Int): Seq[Float] =
    Seq.fill(dim)(((r() & 0xffff) / 65535.0f) - 0.5f)

  test("geometry refusals: non-dividing dim, k out of byte range, corpus smaller than k") {
    val df = (1L to 8L).map(i => (i, Seq.fill(6)(i.toFloat))).toDF("id", "v")
    val e1 = intercept[IllegalArgumentException](Pq.train(df, "id", "v", m = 4, k = 4))
    assert(e1.getMessage.contains("divide"))
    val e2 = intercept[IllegalArgumentException](Pq.train(df, "id", "v", m = 2, k = 300))
    assert(e2.getMessage.contains("256"))
    val e3 = intercept[IllegalArgumentException](Pq.train(df, "id", "v", m = 2, k = 16))
    assert(e3.getMessage.contains("at least k"))
  }

  test("codes recover planted centroids exactly; ADC equals the exact dot on them") {
    // corpus whose subvectors ARE centroid vectors: with iters=0 the
    // seed sample IS the codebook, so every row must code to itself
    val r = rng(3)
    val corpus = (1L to 16L).map(i => (i, randVec(r, 8))).toDF("id", "v")
    val model = Pq.train(corpus, "id", "v", m = 4, k = 16, iters = 0)
    val encoded = Pq.encode(corpus, "v", model)
    // every vector must reconstruct exactly: ADC(q, x) == <q, x> when
    // x sits exactly on its codebook cell in every subspace
    val q = randVec(r, 8)
    val got = encoded
      .withColumn("__adc", PqKernels.pqAdcScore(col("pq_codes"),
        PqKernels.pqTable(typedLit(q), model.codebook, model.m, model.k, model.subDim),
        model.k))
      .withColumn("__exact", Similarity.dot(col("v"), typedLit(q)))
      .select(abs(col("__adc") - col("__exact")).as("err"))
      .collect().map(_.getDouble(0))
    assert(got.nonEmpty && got.forall(_ < 1e-9), got.max.toString)
  }

  test("ADC score equals spec-local table math on arbitrary vectors") {
    val r = rng(7)
    val corpus = (1L to 64L).map(i => (i, randVec(r, 12))).toDF("id", "v")
    val model = Pq.train(corpus, "id", "v", m = 3, k = 8, iters = 1)
    val q = randVec(r, 12).toArray
    val rows = Pq.encode(corpus, "v", model)
      .withColumn("__adc", PqKernels.pqAdcScore(col("pq_codes"),
        PqKernels.pqTable(typedLit(q.toSeq), model.codebook, model.m, model.k, model.subDim),
        model.k))
      .select(col("pq_codes"), col("__adc")).collect()
    rows.foreach { row =>
      val codes = row.getAs[Array[Byte]](0)
      var want = 0.0
      for (mi <- 0 until model.m) {
        val code = codes(mi) & 0xff
        val base = (mi * model.k + code) * model.subDim
        for (d <- 0 until model.subDim)
          want += q(mi * model.subDim + d) * model.codebook(base + d)
      }
      assert(math.abs(row.getDouble(1) - want) < 1e-12)
    }
  }

  test("training and encoding are deterministic (content-stable across repartitioning)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val m1 = Pq.train(emb, "vec_id", "embedding", m = 8, k = 32, iters = 1)
    val m2 = Pq.train(emb.repartition(7), "vec_id", "embedding", m = 8, k = 32, iters = 1)
    assert(m1.codebook.toSeq == m2.codebook.toSeq)
    val c1 = Pq.encode(emb, "embedding", m1)
      .select("vec_id", "pq_codes").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val c2 = Pq.encode(emb.repartition(5), "embedding", m2)
      .select("vec_id", "pq_codes").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(c1 == c2)
    assert(c1.values.forall(_.length == 8), "64 floats compress to 8 bytes")
  }

  test("null and ragged vectors yield null codes, never a crash or a silent drop") {
    val df = Seq(
      (1L, Seq(1f, 2f, 3f, 4f)),
      (2L, null.asInstanceOf[Seq[Float]]),
      (3L, Seq(1f, 2f))).toDF("id", "v")
    val model = Pq.PqModel(2, 1, 2, Array(0.0, 0.0, 0.0, 0.0))
    val out = Pq.encode(df, "v", model)
      .select(col("id"), col("pq_codes").isNull.as("n")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true))
  }

  test("residual (IVFADC) ADC is EXACT when residuals sit on codebook cells") {
    // 16 rows, iters=0, pqK=16: the seed sample IS the whole corpus, so
    // every row's residual is its own codebook entry — quantization
    // error is exactly zero and ⟨q,c⟩ + ADC must reproduce the exact
    // cosine for EVERY (query, candidate) pair, whatever centroids the
    // IVF training picked (the identity ⟨q,x⟩ = ⟨q,c⟩ + ⟨q,x−c⟩ holds
    // for any anchor as long as code and offset share it)
    val r = rng(11)
    val corpus = (1L to 16L).map(i => (i, randVec(r, 8))).toDF("id", "v")
    val queries = corpus.filter(col("id") < 4)
    val pq = Pq.ivfPqTopK(corpus, "id", "v", queries, "id", "v",
      k = 15, m = 4, pqK = 16, nLists = 2, nProbe = 2, iters = 0)
      .select(col("query_id"), col("nn_id"), col("cos_sim"))
    val bf = Similarity.bruteForceTopK(corpus, "id", "v", queries, "id", "v",
      k = 15).select(col("query_id"), col("nn_id"),
        col("cos_sim").as("cos_exact"))
    val joined = pq.join(bf, Seq("query_id", "nn_id"))
      .select(abs(col("cos_sim") - col("cos_exact")).as("err")).collect()
    assert(joined.length == 45, s"expected 3 queries × 15 = 45, got ${joined.length}")
    assert(joined.forall(_.getDouble(0) < 1e-9),
      s"max residual-ADC error ${joined.map(_.getDouble(0)).max}")
  }

  test("residual mode refusal contracts: encode/adcTopK reject the wrong codebook kind") {
    val r = rng(13)
    val corpus = (1L to 16L).map(i => (i, randVec(r, 8))).toDF("id", "v")
    val cents = Similarity.centroids(corpus, "id", "v", nLists = 2)
    val raw = Pq.train(corpus, "id", "v", m = 4, k = 8, iters = 0)
    val res = Pq.trainResidual(corpus, "id", "v", cents, m = 4, k = 8, iters = 0)
    assert(!raw.residual && res.residual)
    val e1 = intercept[IllegalArgumentException](Pq.encode(corpus, "v", res))
    assert(e1.getMessage.contains("encodeResidual"))
    val e2 = intercept[IllegalArgumentException](
      Pq.encodeResidual(corpus.withColumn("list_id", lit(0L)), "v", raw, cents))
    assert(e2.getMessage.contains("raw vectors"))
    val e3 = intercept[IllegalArgumentException](
      Pq.adcTopK(Pq.encode(corpus, "v", raw), "id", corpus, "id", "v", res))
    assert(e3.getMessage.contains("ivfPqTopK"))
  }

  test("residual recall >= raw recall at identical geometry (the IVFADC claim)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "nn_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = topSets(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10))
    val got = topSets(Pq.ivfPqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10, m = 16, pqK = 64,
      nLists = 16, nProbe = 8, iters = 1))
    val rRes = exact.keys.toSeq.map(q =>
      (exact(q) intersect got(q)).size.toDouble / exact(q).size).sum / exact.size
    info(f"recall@10: residual=$rRes%.3f")
    // raw codes read 0.500 at this geometry before the raw IVF-PQ mode
    // was dropped; residual quantization error is a subset of raw error
    // by construction, with one-neighbor slack for ADC tie reshuffles
    val rRaw = 0.500
    assert(rRes >= rRaw - 0.02, f"residual $rRes%.3f vs recorded raw $rRaw%.3f")
  }

  test("a raw-model index is refused; rebuildIvfPqIndex converts it") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").limit(400)
    val path = tmpPath("graft-test-ivfpq-raw")
    Pq.buildIvfPqIndex(emb, "vec_id", "embedding", path,
      m = 16, pqK = 32, nLists = 4, iters = 0)
    // strip the version column: the model row of an index built before
    // residual codes, which reads as a raw codebook
    val model = spark.read.parquet(s"$path/model").drop("residual")
    spark.createDataFrame(java.util.Arrays.asList(model.collect(): _*), model.schema)
      .write.mode("overwrite").parquet(s"$path/model")
    def listing() = {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$path/lists"), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSet
    }
    val before = listing()
    val queries = emb.filter(col("vec_id") < 3)
    val batch = queries.select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val e1 = intercept[IllegalArgumentException](Pq.ivfPqTopKIndexed(spark, path,
      queries, "vec_id", "embedding", k = 5, nProbe = 2))
    val e2 = intercept[IllegalArgumentException](
      Pq.appendToIvfPqIndex(batch, "vec_id", "embedding", path))
    Seq(e1, e2).foreach(e => assert(e.getMessage.contains("rebuildIvfPqIndex"), e.getMessage))
    assert(listing() == before, "a refused call wrote into lists/")
    Pq.rebuildIvfPqIndex(emb, "vec_id", "embedding", path, nLists = 4, iters = 0)
    val res = Pq.ivfPqTopKIndexed(spark, path, queries, "vec_id", "embedding",
      k = 5, nProbe = 2)
    assert(res.groupBy("query_id").count().collect().map(_.getLong(1)).toSeq == Seq(5L, 5L, 5L))
  }

  test("persisted IVF-PQ index: prunes to probed lists, answers like the direct path, re-ranks from source vectors") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val path = tmpPath("graft-test-ivfpq")
    Pq.buildIvfPqIndex(emb, "vec_id", "embedding", path,
      m = 16, pqK = 64, nLists = 8, iters = 1)
    val queries = emb.filter(col("vec_id") < 3)
    val res = Pq.ivfPqTopKIndexed(spark, path, queries, "vec_id", "embedding",
      k = 5, nProbe = 2)
    val p = res.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // unprobed list partitions are pruned at file listing — a probe
    // reads nProbe/nLists of an index that holds BYTES, not vectors
    val scanLine = p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scanLine.contains("list_id"), p)
    val direct = Pq.ivfPqTopK(emb, "vec_id", "embedding", queries, "vec_id", "embedding",
      k = 5, m = 16, pqK = 64, nLists = 8, nProbe = 2, iters = 1)
      .select("query_id", "rank", "nn_id").collect().map(_.toSeq).toSet
    val indexed = res.select("query_id", "rank", "nn_id").collect().map(_.toSeq).toSet
    assert(indexed == direct)
    // re-rank pulls true vectors from the source-of-truth table
    val rr = Pq.ivfPqTopKIndexed(spark, path, queries, "vec_id", "embedding",
      k = 5, nProbe = 2, rerank = 20,
      rerankFrom = emb, rerankIdCol = "vec_id", rerankVecCol = "embedding")
    assert(rr.count() == 15)
    val e = intercept[IllegalArgumentException](
      Pq.ivfPqTopKIndexed(spark, path, queries, "vec_id", "embedding",
        k = 5, nProbe = 2, rerank = 20))
    assert(e.getMessage.contains("rerankFrom"))
  }

  test("ADC full scan and IVF-PQ recall the exact top-k; re-rank restores precision") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "nn_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = topSets(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10))
    // recall and reconstruction quality must IMPROVE monotonically
    // with quantization resolution (bits per dim) — the gradient that
    // caught a Set-collapsed mean during development
    val gradient = Seq((8, 64), (16, 64), (16, 256), (32, 256)).map { case (m, kk) =>
      val mm = Pq.train(emb, "vec_id", "embedding", m = m, k = kk, iters = 2)
      val a = topSets(Pq.adcTopK(Pq.encode(emb, "embedding", mm), "vec_id",
        queries, "vec_id", "embedding", mm, k = 10))
      val rr = exact.keys.toSeq.map(q =>
        (exact(q) intersect a(q)).size.toDouble / exact(q).size).sum / exact.size
      info(f"m=$m k=$kk adc recall=$rr%.2f")
      rr
    }
    assert(gradient.sliding(2).forall(p => p(1) >= p(0) - 0.05),
      s"recall must track quantization resolution: $gradient")
    val model = Pq.train(emb, "vec_id", "embedding", m = 16, k = 256, iters = 2)
    val adc = topSets(Pq.adcTopK(Pq.encode(emb, "embedding", model), "vec_id",
      queries, "vec_id", "embedding", model, k = 10))
    val ivfExact = topSets(Similarity.ivfTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10, nLists = 16, nProbe = 8))
    val ivfPq = topSets(Pq.ivfPqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10, m = 16, pqK = 256,
      nLists = 16, nProbe = 8))
    val reranked = topSets(Pq.ivfPqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10, m = 16, pqK = 256,
      nLists = 16, nProbe = 8, rerank = 50))
    // NOTE: .keys.toSeq, not .keys — mapping a key SET to recall
    // values collapses equal recalls and silently skews the mean
    def recall(a: Map[Long, Set[Long]]) =
      exact.keys.toSeq.map(q => (exact(q) intersect a(q)).size.toDouble / exact(q).size)
        .sum / exact.size
    val (rAdc, rIvfEx, rIvf, rRe) =
      (recall(adc), recall(ivfExact), recall(ivfPq), recall(reranked))
    info(f"recall@10: adc=$rAdc%.2f ivfExact=$rIvfEx%.2f ivfpq=$rIvf%.2f reranked=$rRe%.2f")
    assert(rAdc >= 0.7, s"ADC full-scan recall $rAdc")
    assert(rIvf >= 0.5, s"IVF-PQ recall $rIvf")
    assert(rRe >= rIvf - 1e-9, "re-rank must not lose recall")
    // re-rank recovers the IVF pruning ceiling: what's lost vs plain
    // IVF at the same nProbe is PQ error on the short list only
    assert(rRe >= rIvfEx - 0.1, s"re-ranked $rRe vs exact-IVF ceiling $rIvfEx")
  }
}
