package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.PqKernels

/** Product quantization for similarity search at memory-bound scale
  * (Jégou et al., TPAMI 2011 — the standard billion-vector ANN
  * compression): a D-float embedding becomes `m` bytes (e.g. 64
  * floats = 256 B → 8 B, 32×), and query scoring becomes `m` table
  * lookups per candidate instead of D multiplies (asymmetric
  * distance: the query side stays exact, only the corpus is
  * quantized). Composed with IVF pruning (the shared [[Ivf]]
  * lifecycle, an ADC scorer) this is IVF-PQ: inverted lists bound the
  * candidates, PQ codes bound the bytes per candidate, an optional
  * exact re-rank of the short list restores precision.
  *
  *  - [[train]]: hash-ordered seed sample, then Lloyd rounds whose
  *    assignment is the row-local [[PqKernels.pqCodes]] kernel and
  *    whose update is ONE per-(subspace, code, dim) mean aggregation.
  *  - [[encode]]: map-only codes + EXACT norm, so the only cosine
  *    error is the quantized direction.
  *  - [[adcTopK]] / [[ivfPqTopK]]: per-query m×k table once, then
  *    lookups folded into the bounded [[TopK]] partial aggregate.
  *
  * Cosine scores are approximate by construction (recall/precision
  * spec-pinned, like IVF); exactness-critical paths should re-rank
  * (`rerank` > 0) or use the exact kernels. */
object Pq {

  /** Trained model: flat codebook laid out [sub][centroid][dim].
    * `residual = true` marks an IVFADC codebook (trained on
    * `x − centroid(list)` displacements — [[trainResidual]]): its codes
    * only decode against the list centroid they were assigned under,
    * and ADC scoring must add the per-(query, list) ⟨q, c⟩ offset. */
  case class PqModel(m: Int, k: Int, subDim: Int, codebook: Array[Double],
                     residual: Boolean = false) {
    def dim: Int = m * subDim
  }

  /** Train per-subspace codebooks. `k ≤ 256` (byte codes); `dim` must
    * divide into `m` subspaces; the corpus needs ≥ `k` non-null vectors
    * (seed sample = first k in xxhash64(id) order). `iters` Lloyd rounds
    * refine; empty cells keep their centroid. Only iters=0 is
    * BIT-reproducible (Lloyd means are a distributed double avg). */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            m: Int = 8, k: Int = 256, iters: Int = 2,
            seed: Long = 42L): PqModel =
    trainVecs(corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull), m, k, iters, seed, residual = false)

  /** Train an IVFADC codebook (Jégou et al. 2011 §IV) on per-list
    * RESIDUALS `x − centroid(assignedList(x))` instead of raw vectors:
    * the list centroid carries the bulk of the signal exactly, so the
    * same m bytes buy far more directional resolution (the r13 ×64
    * stress: raw-codebook recall 0.354 where the IVF candidate set
    * supports 0.408). Codes are only meaningful under THESE `cents`
    * (list_id, cvec) — the table the index will probe with. */
  def trainResidual(corpus: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame, m: Int = 8, k: Int = 256,
                    iters: Int = 2, seed: Long = 42L): PqModel =
    trainResidualAssigned(Similarity.assignLists(
      corpus.select(col(idCol), col(vecCol)), idCol, vecCol, cents),
      idCol, vecCol, cents, m, k, iters, seed)

  /** [[trainResidual]] over a frame that ALREADY carries `list_id`, so
    * the IVF lifecycle's one assignment serves training AND encode. */
  private[ml] def trainResidualAssigned(assigned: DataFrame, idCol: String,
                                        vecCol: String, cents: DataFrame,
                                        m: Int, k: Int, iters: Int,
                                        seed: Long): PqModel = {
    // materialized residuals: the Lloyd update needs the VALUES
    val vecs = assigned
      .join(broadcast(cents.select(col("list_id"), col("cvec"))), Seq("list_id"))
      .select(col(idCol).as("__id"),
        zip_with(col(vecCol).cast("array<double>"), col("cvec"),
          (x, c) => x - c).as("__v"))
      .filter(col("__v").isNotNull)
    trainVecs(vecs, m, k, iters, seed, residual = true)
  }

  /** Shared Lloyd core over a prepared (`__id`, `__v`) frame —
    * [[train]] feeds raw vectors, [[trainResidual]] feeds residuals. */
  private def trainVecs(vecs: DataFrame, m: Int, k: Int, iters: Int,
                        seed: Long, residual: Boolean): PqModel = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(k >= 1 && k <= 256, s"k must be in [1, 256] (byte codes), got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // the persist is released on every exit, the requires' included
    Ivf.holding { hold =>
      if (iters > 0) hold(vecs) // read once per Lloyd round + the seed scan
      // deterministic seed sample: first k vectors in hash order
      val sample = vecs
        .orderBy(xxhash64(col("__id"), lit(seed)), col("__id"))
        .limit(k)
        .select(col("__v").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      require(sample.length == k,
        s"Pq.train: corpus holds only ${sample.length} non-null vectors — " +
          s"k=$k needs at least k; lower k or widen the corpus")
      val dim = sample.head.length
      require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
      require(sample.forall(_.length == dim),
        "Pq.train: seed sample contains ragged vector lengths")
      val subDim = dim / m
      // laid out [sub][centroid][dim], seeded from the sample's slices
      var codebook = (0 until m).flatMap(mi => (0 until k).flatMap(j =>
        sample(j).slice(mi * subDim, (mi + 1) * subDim))).toArray
      for (_ <- 0 until iters) {
        // assign (row-local kernel) → per-(sub, code, dim) means
        val assigned = vecs.select(
          posexplode(PqKernels.pqCodes(col("__v"), codebook, m, k, subDim,
            asInts = true)).as(Seq("__mi", "__code")),
          col("__v"))
          .select(col("__mi"), col("__code"),
            posexplode(slice(col("__v"), col("__mi") * subDim + 1,
              lit(subDim))).as(Seq("__d", "__x")))
        val means = assigned
          .groupBy(col("__mi"), col("__code"), col("__d"))
          .agg(avg(col("__x").cast("double")).as("__mean"))
          .collect()
        val next = codebook.clone() // empty cells keep previous centroids
        means.foreach { r =>
          val mi2 = r.getInt(0); val c = r.getInt(1); val d = r.getInt(2)
          next((mi2 * k + c) * subDim + d) = r.getDouble(3)
        }
        codebook = next
      }
      PqModel(m, k, subDim, codebook, residual)
    }
  }

  /** Append `codesCol` (m bytes) and `normCol` (exact ‖v‖). Map-only;
    * null/ragged vectors yield null codes, never dropped silently.
    * Raw-codebook models only ([[encodeResidual]] for residual ones). */
  def encode(corpus: DataFrame, vecCol: String, model: PqModel,
             codesCol: String = "pq_codes", normCol: String = "pq_norm"): DataFrame = {
    require(!model.residual,
      "Pq.encode: model was trained on residuals (trainResidual) — its " +
        "codes only decode against each row's assigned list centroid; " +
        "use encodeResidual(assigned, vecCol, model, cents)")
    corpus
      .withColumn(codesCol, PqKernels.pqCodes(col(vecCol), model.codebook,
        model.m, model.k, model.subDim))
      .withColumn(normCol, sqrt(Similarity.dot(col(vecCol), col(vecCol))))
  }

  /** Residual-mode (IVFADC) encode over a list-ASSIGNED frame: codes of
    * `x − centroid(list_id)` under a [[trainResidual]] codebook, plus
    * the EXACT raw-vector norm. Left-joins the broadcast centroid table
    * so a null list_id (null vector) yields null codes — the
    * never-drop contract of [[encode]]; one fused kernel, no residual
    * array materialized. */
  def encodeResidual(assigned: DataFrame, vecCol: String, model: PqModel,
                     cents: DataFrame, codesCol: String = "pq_codes",
                     normCol: String = "pq_norm"): DataFrame = {
    require(model.residual,
      "Pq.encodeResidual: model was trained on raw vectors — use encode " +
        "(codes would decode against anchors the codebook never saw)")
    assigned
      .join(broadcast(cents.select(col("list_id"), col("cvec"))),
        Seq("list_id"), "left")
      .withColumn(codesCol, PqKernels.pqResidualCodes(col(vecCol),
        col("cvec"), model.codebook, model.m, model.k, model.subDim))
      .withColumn(normCol, sqrt(Similarity.dot(col(vecCol), col(vecCol))))
      .drop("cvec")
  }

  /** [[encode]] or [[encodeResidual]] by the model's own flag — the
    * one switch every IVF-PQ build/probe path routes through. */
  private[ml] def encodeFor(assigned: DataFrame, vecCol: String, model: PqModel,
                            cents: DataFrame): DataFrame =
    if (model.residual) encodeResidual(assigned, vecCol, model, cents)
    else encode(assigned, vecCol, model)

  /** Query side of an ADC probe over a (query_id, __q) frame: per-query
    * m×k lookup table + EXACT query norm (the only approximation stays
    * in the corpus codes). */
  private[ml] def adcQuerySide(q: DataFrame, model: PqModel): DataFrame =
    q.withColumn("__table", PqKernels.pqTable(col("__q"), model.codebook,
        model.m, model.k, model.subDim))
      .withColumn("__qn", sqrt(Similarity.dot(col("__q"), col("__q"))))

  /** ADC cosine for a candidate row carrying codes `__c`, norm `__n`
    * and the query side's `__table`/`__qn`. Residual mode adds the
    * exact offset `__qc` = ⟨q, c_list⟩ riding the probe row:
    * ⟨q, x⟩ = ⟨q, c⟩ + ⟨q, x−c⟩, so ONE per-query table serves every
    * list. */
  private[ml] def adcCos(pqK: Int, residual: Boolean): org.apache.spark.sql.Column = {
    val adc = PqKernels.pqAdcScore(col("__c"), col("__table"), pqK)
    val ip = if (residual) col("__qc") + adc else adc
    when(col("__n") > 0 && col("__qn") > 0, ip / (col("__n") * col("__qn")))
      .otherwise(lit(0.0)).as("cos_sim")
  }

  /** Full-scan ADC top-k over an [[encode]]d corpus: approximate
    * cosine = (Σ table lookups) / (‖v‖·‖q‖). The corpus pays m
    * lookups + one divide per candidate — no vector math. */
  def adcTopK(encoded: DataFrame, idCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              model: PqModel, k: Int = 10, excludeSelf: Boolean = true,
              codesCol: String = "pq_codes", normCol: String = "pq_norm",
              queryBudget: Long = Similarity.DefaultQueryBudget): DataFrame = {
    require(!model.residual,
      "Pq.adcTopK: residual (IVFADC) codes need their list anchors — " +
        "flat ADC scans take a raw-codebook model; use ivfPqTopK for " +
        "residual mode")
    Similarity.guardQueryBroadcast(queries, qvecCol, queryBudget, "adcTopK")
    val q = adcQuerySide(queries.select(col(qidCol).as("query_id"),
      col(qvecCol).as("__q")), model)
    val paired = encoded
      .select(col(idCol).as("nn_id"), col(codesCol).as("__c"), col(normCol).as("__n"))
      .filter(col("__c").isNotNull)
      .crossJoin(broadcast(q))
    val scored = (if (excludeSelf) paired.filter(col("nn_id") =!= col("query_id"))
      else paired)
      .select(col("query_id"), col("nn_id"), adcCos(model.k, residual = false))
    TopK.perQuery(scored, k)
  }

  /** Read a stored model row back into a [[PqModel]]. Pre-r14 indexes
    * have no `residual` column — they were built raw, so absence reads
    * false (the versioning contract that lets one probe path serve
    * both formats). */
  private def readModel(spark: org.apache.spark.sql.SparkSession,
                        path: String): PqModel = {
    val df = spark.read.parquet(s"$path/model")
    val mrow = df.collect()(0)
    PqModel(mrow.getAs[Int]("m"), mrow.getAs[Int]("k"),
      mrow.getAs[Int]("sub_dim"), mrow.getAs[Seq[Double]]("codebook").toArray,
      residual = df.schema.fieldNames.contains("residual") &&
        mrow.getAs[Boolean]("residual"))
  }

  /** One model row; `residual` is VERSIONED into it, so raw and residual
    * indexes coexist and one probe path serves both. */
  private[ml] def writeModel(spark: org.apache.spark.sql.SparkSession, model: PqModel,
                             path: String): Unit = {
    import spark.implicits._
    Seq((model.m, model.k, model.subDim, model.codebook.toSeq, model.residual))
      .toDF("m", "k", "sub_dim", "codebook", "residual")
      .write.mode("overwrite").parquet(path)
  }

  /** The IVF lifecycle's ADC scorer trainer: a residual codebook trains
    * on the shared assignment (one bestCosine pass serves training AND
    * the encode), a raw one on the corpus itself. */
  private def adcFit(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
                     pqK: Int, iters: Int, seed: Long, residual: Boolean): Ivf.Fit =
    Ivf.Fit(residual, (assigned, cents) => Ivf.Adc(
      if (residual) trainResidualAssigned(assigned, idCol, vecCol, cents, m, pqK, iters, seed)
      else train(corpus, idCol, vecCol, m, pqK, iters, seed)))

  /** Persist an IVF-PQ index: the model row (codebook + geometry, read
    * back at probe time so build and probe cannot desync), IVF
    * centroids, and the encoded corpus partitioned by list id — m-byte
    * codes + norm per row, never vectors (exact re-rank joins back to
    * the source-of-truth table). `residual = true` (default) stores
    * IVFADC codes ([[trainResidual]]). */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      path: String, m: Int = 16, pqK: Int = 256,
                      nLists: Int = 0, iters: Int = 2,
                      seed: Long = 42L, residual: Boolean = true): Unit =
    Ivf.build(corpus, idCol, vecCol, path, nLists, refineIters = 1, seed, "kmeans++",
      adcFit(corpus, idCol, vecCol, m, pqK, iters, seed, residual), "graft_ivfpq_build")

  /** Append a batch to a persisted [[buildIvfPqIndex]] index without
    * retraining: encoded under the FROZEN stored codebook and assigned
    * under the FROZEN stored centroids, written as delta partitions
    * into the same layout. Drift accounting is the IVF contract
    * ([[Similarity.appendToIvfIndex]]). The CODEBOOK ages too —
    * centroid drift is its leading indicator (both train on the same
    * distribution), so the one statistic covers the whole index. */
  def appendToIvfPqIndex(batch: DataFrame, idCol: String, vecCol: String,
                         path: String): graft.ml.IndexAppendStats =
    Ivf.append(batch, idCol, vecCol, path, Ivf.Adc(readModel(batch.sparkSession, path)),
      "graft_ivfpq_append", "appendToIvfPqIndex")

  /** Rebuild a persisted [[buildIvfPqIndex]] index — the action its
    * drift signal ([[graft.ml.IndexAppendStats.rebuildRecommended]])
    * points at. UNLIKE the IVF rebuild it needs the vector SOURCE OF
    * TRUTH handed back in (the index stores codes, never vectors).
    * Geometry (m, pqK, residual) is read from the STORED model, so a
    * rebuild cannot silently change the compression contract;
    * `nLists <= 0` re-derives √N from the rebuild corpus. */
  def rebuildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                        path: String, nLists: Int = 0, iters: Int = 2,
                        seed: Long = 42L): Unit = {
    val stored = readModel(corpus.sparkSession, path)
    Ivf.rebuild(corpus.sparkSession, path)(tmp => buildIvfPqIndex(corpus, idCol,
      vecCol, tmp, stored.m, stored.k, nLists, iters, seed, stored.residual))
  }

  /** Probe a persisted IVF-PQ index: rank lists against the tiny
    * centroid table, scan ONLY the probed list partitions (the
    * `isin` literal prunes at file listing), score by ADC lookups,
    * optionally re-rank the short list with exact cosine against
    * `rerankFrom` (the vector source of truth — `(idCol, vecCol)`
    * columns). Geometry and codebook come from the index itself. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, qidCol: String, qvecCol: String,
                       k: Int = 10, nProbe: Int = 0, rerank: Int = 0,
                       rerankFrom: DataFrame = null,
                       rerankIdCol: String = null, rerankVecCol: String = null,
                       queryBudget: Long = Similarity.DefaultQueryBudget): DataFrame = {
    require(rerank <= 0 ||
        (rerankFrom != null && rerankIdCol != null && rerankVecCol != null),
      "ivfPqTopKIndexed: rerank > 0 needs rerankFrom + rerankIdCol + " +
        "rerankVecCol (the index stores codes, not vectors)")
    Ivf.indexed(spark, path, queries, qidCol, qvecCol, k, nProbe, rerank,
      rerankFrom.select(col(rerankIdCol).as("nn_id"), col(rerankVecCol).as("__v")),
      Ivf.Adc(readModel(spark, path)), queryBudget, "ivfPqTopKIndexed")
  }

  /** IVF-PQ with optional exact re-rank: IVF centroids bound WHICH
    * candidates are touched (nProbe/nLists of the corpus), PQ codes
    * bound the BYTES per candidate, and `rerank > 0` re-scores the
    * top-`rerank` ADC survivors with exact cosine against the true
    * vectors (a queries×rerank-row join back). rerank ≥ k restores
    * bruteForce ordering whenever ADC's top-rerank holds the true top-k.
    * `residual = true` (default) is IVFADC proper ([[trainResidual]]):
    * same probe cost — one per-query table serves every list, plus one
    * ⟨q, c⟩ offset per probe row. The residual assignment persist is
    * LRU-released ([[Ivf.topK]]). */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qidCol: String, qvecCol: String,
                k: Int = 10, m: Int = 8, pqK: Int = 256,
                nLists: Int = 0, nProbe: Int = 0,
                iters: Int = 2, seed: Long = 42L,
                rerank: Int = 0, residual: Boolean = true,
                queryBudget: Long = Similarity.DefaultQueryBudget): DataFrame =
    Ivf.topK(corpus, idCol, vecCol, queries, qidCol, qvecCol, k, nLists, nProbe,
      rerank, refineIters = 1, seed, "kmeans++",
      adcFit(corpus, idCol, vecCol, m, pqK, iters, seed, residual), queryBudget, "ivfPqTopK")

  /** IVF-PQ with RUNTIME recall calibration — the two-knob counterpart
    * of [[Similarity.ivfTopKCalibrated]]. PQ stacks TWO recall losses:
    * probed lists that miss true neighbors (more probes buy it back)
    * and ADC error misranking candidates the probes DID reach (only a
    * deeper exact re-rank does) — the r12 ×64 stress measured
    * all-defaults recall@10 = 0.354. The knobs escalate from
    * (autoNProbe, 4·k rerank) toward (`maxProbeFactor`×,
    * `maxRerankFactor`×) caps under the plateau policy of
    * [[Ivf.calibrated]]; `measured_recall`, `calibrated_nprobe` and
    * `calibrated_rerank` ride every output row (the q_ann_pq_cal
    * driver query asserts on the column). */
  def ivfPqTopKCalibrated(corpus: DataFrame, idCol: String, vecCol: String,
                          queries: DataFrame, qidCol: String, qvecCol: String,
                          k: Int = 10, targetRecall: Double = 0.7,
                          sampleQueries: Int = 20,
                          m: Int = 8, pqK: Int = 256,
                          nLists: Int = 0, nProbe: Int = 0, rerank: Int = 0,
                          maxProbeFactor: Int = 16, maxRerankFactor: Int = 16,
                          iters: Int = 2, seed: Long = 42L,
                          residual: Boolean = true,
                          queryBudget: Long = Similarity.DefaultQueryBudget): DataFrame = {
    require(maxRerankFactor >= 1, s"maxRerankFactor must be >= 1: $maxRerankFactor")
    val startRerank = if (rerank > 0) rerank else 4 * k
    Ivf.calibrated(corpus, idCol, vecCol, queries, qidCol, qvecCol, k,
      targetRecall, sampleQueries, nLists, nProbe, maxProbeFactor,
      Some((startRerank, (startRerank.toLong * maxRerankFactor).min(Int.MaxValue).toInt)),
      refineIters = 1, seed, "kmeans++",
      adcFit(corpus, idCol, vecCol, m, pqK, iters, seed, residual), queryBudget,
      "ivfPqTopKCalibrated")
  }
}
