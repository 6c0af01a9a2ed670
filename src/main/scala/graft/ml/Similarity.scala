package graft.ml

import graft.core.Persisted
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`),
  * computed in double precision. (Extension beyond the reference
  * surface — SURVEY §7.2 step 8.) Two search paths:
  *   - brute force: broadcast the (small) query set against the corpus —
  *     the exact baseline, one map-side pass, bounded per-query top-k;
  *   - IVF: k-means‖ centroids → assign corpus rows to the nearest one
  *     (map-only vs broadcast centroids) → probe only `nProbe` inverted
  *     lists per query, cost ~nProbe/nLists of a scan. The index
  *     lifecycle is shared with [[Pq]]'s IVF-PQ ([[Ivf]]). */
object Similarity {

  /** Σ a_i b_i in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Single-pass custom kernel (graft.functions.CosineSimExpr) —
    * bit-identical to `dot(a,b)/(norm(a)*norm(b))` but one tight JVM
    * loop per pair instead of three interpreted HOF folds. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.Kernels.cosineSim(a, b)

  /** Element budget (rows × dim) for the broadcast QUERY side of the
    * ANN entry points: every top-k path broadcasts the query vectors,
    * right for bounded query sets but a driver OOM hours into a 100-TB
    * corpus-as-queries run. 16M elements ≈ 128 MB of doubles (≈250k
    * queries at dim 64); past it, chunk the queries or use
    * [[lshNeighborPairs]]. `queryBudget = 0` skips the check (the
    * guard-skip convention shared with saltedJoin/embeddingDedup). */
  val DefaultQueryBudget: Long = 16L * 1000 * 1000

  /** Refuse a query frame too large to broadcast BEFORE the plan runs,
    * with a BOUNDED scan (a full `count()` would re-run the query
    * frame's lineage — extra corpus passes for `corpus.filter(...)`
    * queries): one `head(1)` for the dim and one
    * `limit(maxRows + 1).count()`, over budget iff the limit is hit. */
  private[ml] def guardQueryBroadcast(queries: DataFrame, vecCol: String,
                                      budget: Long, caller: String): Unit = {
    if (budget <= 0) return
    val dim = math.max(queries.select(col(vecCol))
      .filter(col(vecCol).isNotNull)
      .head(1).headOption.map(_.getSeq[Any](0).size).getOrElse(0), 1)
    val maxRows = budget / dim
    // a budget past 2^31 rows cannot be expressed as a LIMIT and is no
    // real guard anyway — treat it as in-budget
    if (maxRows >= Int.MaxValue.toLong) return
    val probed = queries.limit(maxRows.toInt + 1).count()
    if (probed > maxRows)
      throw new IllegalArgumentException(
        s"$caller: the query frame holds more than $maxRows rows at dim " +
          s"$dim (> queryBudget=$budget vector elements) — broadcasting " +
          "it would put the full query-vector set on the driver and every " +
          "executor (the corpus-as-queries OOM, hours into a large run). " +
          "Chunk the query set into bounded batches, use lshNeighborPairs " +
          "for corpus×corpus neighbor pairs (it never broadcasts " +
          "vectors), or pass queryBudget=0 to accept the broadcast " +
          "knowingly.")
  }

  /** Exact brute-force cosine top-k: `queries(qid, qvec)` is broadcast;
    * the corpus is scored in one map-side pass folded into per-(query,
    * task) top-k buffers (the bounded-k fold [[BoundedK]], its
    * [[TopKAgg]] order) — only `queries × tasks × k`
    * rows reach the shuffle. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int = 10, excludeSelf: Boolean = true,
                     queryBudget: Long = DefaultQueryBudget): DataFrame = {
    guardQueryBroadcast(queries, qvecCol, queryBudget, "bruteForceTopK")
    val paired = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(queries.select(col(qidCol).as("query_id"), col(qvecCol).as("__q"))))
    // excludeSelf drops nn_id == query_id — right when queries ARE
    // corpus rows probing for neighbors; set false when query ids live
    // in a separate namespace (e.g. hybrid retrieval probes), where an
    // accidental id collision must not hide a corpus document
    val scored = (if (excludeSelf) paired.filter(col("nn_id") =!= col("query_id"))
      else paired)
      .select(col("query_id"), col("nn_id"), cosine(col("__v"), col("__q")).as("cos_sim"))
    TopK.perQuery(scored, k)
  }

  /** Deterministic IVF centroids: k-means||-style seeding (Bahmani et
    * al., VLDB'12 — the distributed kmeans++) followed by `refineIters`
    * Lloyd iterations (assign → per-list dimension means).
    *
    * Seeding: starting from the lowest-id vector, a few rounds each
    * OVERSAMPLE ~2·nLists candidates with probability proportional to
    * D² (squared angular distance to the nearest already-chosen
    * candidate) — the kmeans++ bias that spreads seeds across the
    * data's actual clusters, where a first-n-by-id seed can land every
    * centroid inside one dense cluster and strand the rest of the
    * space on a single list (recall collapses at fixed nProbe; an
    * adversarially id-ordered spec pins recall and list balance). The
    * "random" draw is a per-(round, id) hash, so the sample is
    * deterministic and content-stable — same corpus, same seeds, any
    * partitioning.
    * Each round is map-only D² scoring vs broadcast candidates read by
    * two actions — a scalar D² total and a ≤~2·nLists-row draw — which
    * under AQE run as 7 Spark jobs (4 for the total, 3 for the draw);
    * no hash shuffle of the corpus anywhere in seeding. The candidate
    * set (≤ 1 + rounds·2·nLists rows) is then weighted by cluster
    * population and reduced to nLists seeds with a seeded driver-local
    * weighted kmeans++ — the standard || recluster step. This is the
    * one seeding every IVF entry point uses. */
  def centroids(corpus: DataFrame, idCol: String, vecCol: String,
                nLists: Int = 16, refineIters: Int = 1,
                seed: Long = 42L): DataFrame = {
    var cents = kmeansParallelInit(corpus, idCol, vecCol, nLists, seed)
    for (_ <- 0 until refineIters) {
      val assigned = assignLists(
        corpus.select(col(idCol), col(vecCol)), idCol, vecCol, cents)
      cents = assigned
        .select(col("list_id"), posexplode(col(vecCol)).as(Seq("pos", "__x")))
        .groupBy(col("list_id"), col("pos"))
        .agg(avg(col("__x")).as("__mean"))
        .groupBy(col("list_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("__mean")))).as("__ps"))
        .select(col("list_id"),
          transform(col("__ps"), p => p.getField("__mean")).as("cvec"))
    }
    cents
  }

  /** k-means|| seeding rounds (see [[centroids]]). Returns
    * (list_id, cvec) with ≤ nLists rows (fewer only when the corpus
    * itself has fewer non-null vectors). */
  private def kmeansParallelInit(corpus: DataFrame, idCol: String, vecCol: String,
                                 nLists: Int, seed: Long): DataFrame = {
    val rounds = 4
    val over = 2 * nLists // per-round expected oversample (the || "l")
    val vBase = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__cid"), col(vecCol).cast("array<double>").as("__cv"))
    // Seeding is O(rows × candidates) COMPUTE: a corpus arriving in
    // fewer splits than half the parallelism (a single small parquet
    // file) gets one bounded round-robin spread so the D² rounds cannot
    // serialize on one task. Every seeding step is content-stable under
    // repartitioning (hash draws keyed on (round, id), pool sorted by
    // id — spec-pinned), so results cannot move.
    val spread = corpus.sparkSession.sparkContext.defaultParallelism
    val vPar = vBase.rdd.getNumPartitions
    Persisted.holding { hold =>
      val v = hold(if (vPar * 2 < spread) vBase.repartition(spread) else vBase)
      val first = v.orderBy(col("__cid")).limit(1).collect()
      if (first.isEmpty) corpus.limit(0).select(lit(0L).as("list_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      else {
        // candidate pool keyed by the id's STRING; collected order is not
        // deterministic, so every driver-side step sorts by this key
        val pool = scala.collection.mutable.LinkedHashMap[String, Array[Double]]()
        def add(rows: Array[org.apache.spark.sql.Row]): Unit = rows.foreach(row =>
          pool.getOrElseUpdate(row.get(0).toString, row.getSeq[Double](1).toArray))
        add(first)
        // squared angular distance 2(1-cos) to the nearest candidate, by
        // assignLists' kernel (only the max sim is read)
        def withD2(cand: DataFrame) = {
          val cs = cand.agg(collect_list(struct(col("list_id"), col("cvec"))).as("cs"))
          v.crossJoin(broadcast(cs))
            .withColumn("__d2", lit(2.0) * (lit(1.0) -
              graft.functions.Kernels.bestCosine(col("__cv"), col("cs"))
                .getField("sim")))
            .drop("cs")
        }
        var r = 0
        while (r < rounds && pool.size < 1 + rounds * over) {
          val scored = withD2(centsOf(corpus, pool.toSeq.sortBy(_._1).map(_._2)))
            .withColumn("__u", shiftrightunsigned(
              xxhash64(lit(seed), lit(r), col("__cid").cast("string")), 11)
              .cast("double") / lit(9007199254740992.0)) // 2^53
          val total = scored.agg(F.sum(col("__d2"))).collect()(0)
          if (total.isNullAt(0) || total.getDouble(0) <= 0) {
            r = rounds // every point sits on a candidate — done seeding
          } else {
            val tot = total.getDouble(0)
            // deterministic D²-proportional draw; the limit is a guard
            // against degenerate D² concentrations, not a sampler
            add(scored
              .filter(col("__u") * lit(tot) < lit(over.toDouble) * col("__d2"))
              .orderBy(col("__d2").desc, col("__cid"))
              .limit(4 * over)
              .select(col("__cid"), col("__cv")).collect())
            r += 1
          }
        }
        // pad a too-small pool (tiny corpus / zero distances) with the
        // lowest-id rows so the list count is min(nLists, non-null rows)
        if (pool.size < nLists) add(v.orderBy(col("__cid")).limit(nLists + pool.size).collect())
        // population weights for the || recluster step
        val keyed = pool.toSeq.sortBy(_._1)
        val weights: Map[Int, Long] =
          if (keyed.size <= nLists) Map.empty
          else {
            val byList = assignLists(v, "__cid", "__cv", centsOf(corpus, keyed.map(_._2)))
              .groupBy(col("list_id")).agg(F.count(lit(1)).as("__n")).collect()
            byList.map(rw => rw.getLong(0).toInt -> rw.getLong(1)).toMap
          }
        centsOf(corpus, weightedKmeansPlusPlus(
          keyed.map(_._2).toArray,
          keyed.indices.map(i => weights.getOrElse(i, 1L).toDouble).toArray,
          math.min(nLists, keyed.size), seed))
      }
    }
  }

  /** Driver-local vectors as a (list_id, cvec) frame, ids by position. */
  private def centsOf(corpus: DataFrame, vs: Seq[Array[Double]]): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = vs.zipWithIndex.map { case (c, i) => org.apache.spark.sql.Row(i.toLong, c.toSeq) }
    corpus.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("list_id", LongType, nullable = false),
      StructField("cvec", ArrayType(DoubleType), nullable = false))))
  }

  /** Seeded weighted kmeans++ over the (tiny, driver-local) candidate
    * pool — the k-means|| recluster. Cosine-angular D² like the
    * distributed rounds. */
  private def weightedKmeansPlusPlus(cands: Array[Array[Double]],
                                     w: Array[Double], k: Int,
                                     seed: Long): Array[Array[Double]] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0) 0.0 else dot / d
    }
    val rnd = new scala.util.Random(seed)
    val n = cands.length
    val chosen = scala.collection.mutable.ArrayBuffer[Int]()
    // first seed: weighted draw
    def weightedDraw(weight: Int => Double): Int = {
      val total = (0 until n).map(weight).sum
      if (total <= 0) return (0 until n).find(i => !chosen.contains(i)).getOrElse(0)
      var x = rnd.nextDouble() * total
      var i = 0
      while (i < n - 1 && x >= weight(i)) { x -= weight(i); i += 1 }
      i
    }
    chosen += weightedDraw(i => w(i))
    val d2 = Array.tabulate(n)(i => 2.0 * (1.0 - cos(cands(i), cands(chosen(0)))))
    while (chosen.size < k) {
      val next = weightedDraw(i => if (chosen.contains(i)) 0.0 else w(i) * d2(i))
      chosen += next
      var i = 0
      while (i < n) {
        val d = 2.0 * (1.0 - cos(cands(i), cands(next)))
        if (d < d2(i)) d2(i) = d
        i += 1
      }
    }
    chosen.map(cands).toArray
  }

  /** [[assignLists]] plus the winning cosine under `__sim` — the raw
    * material for assignment-quality statistics (mean D² = mean of
    * 2·(1−sim), the k-means objective in angular form). Same map-only
    * kernel pass; callers that don't read `__sim` should use
    * [[assignLists]] so the column never leaks into an index layout. */
  def assignListsWithSim(corpus: DataFrame, idCol: String, vecCol: String,
                         cents: DataFrame): DataFrame = {
    val centArr = cents.agg(collect_list(struct(col("list_id"), col("cvec"))).as("cs"))
    corpus.crossJoin(broadcast(centArr))
      .withColumn("__best",
        graft.functions.Kernels.bestCosine(col(vecCol), col("cs")))
      .withColumn("list_id", col("__best").getField("list_id"))
      .withColumn("__sim", col("__best").getField("sim"))
      .drop("cs", "__best")
  }

  /** Assign each row to its nearest centroid list (map-only: centroids
    * broadcast, argmax by the best_cosine kernel — NOT
    * array_max∘transform, whose interpreted HOF pair the r11 ×64 stress
    * measured as a wall at auto-sized nLists; see BestCosineExpr). Null
    * vectors assign a null list_id, dropped by every downstream
    * equi-join. */
  def assignLists(corpus: DataFrame, idCol: String, vecCol: String,
                  cents: DataFrame): DataFrame =
    assignListsWithSim(corpus, idCol, vecCol, cents).drop("__sim")

  /** Self-sized IVF list count for a corpus of `n` vectors: ~√n,
    * clamped to [16, 2^16]. √n balances centroid ranking (∝ nLists)
    * against probed-list scanning (∝ nProbe·n/nLists); the cap keeps
    * the centroid table broadcastable. The default (`nLists <= 0`) on
    * every IVF entry point. */
  def autoNLists(n: Long): Int =
    math.min(1 << 16, math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** Probe count co-scaled with the list count: ~√nLists, floored at 4
    * (16 lists → 4, 256 → 16, 2^16 → 256). A FIXED nProbe over a
    * growing list space would silently sag recall; this holds measured
    * recall roughly flat (pinned at ×16 by SelfSizingDefaultsSpec)
    * while the scanned fraction still shrinks. The default when callers
    * pass `nProbe <= 0`. */
  def autoNProbe(nLists: Int): Int =
    math.max(4, math.ceil(math.sqrt(nLists.toDouble)).toInt)

  /** IVF top-k: probe the `nProbe` nearest lists per query only.
    * Recall < 1 by construction; the exactness knob is nProbe/nLists.
    * `nLists <= 0` self-sizes via [[autoNLists]] (one count pass);
    * `nProbe <= 0` co-scales via [[autoNProbe]] — both the r11
    * defaults. For a MEASURED recall guarantee use
    * [[ivfTopKCalibrated]], which escalates nProbe until an in-job
    * sampled ground truth confirms the target. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int = 10, nLists: Int = 0, nProbe: Int = 0,
              refineIters: Int = 1, seed: Long = 42L,
              queryBudget: Long = DefaultQueryBudget): DataFrame =
    Ivf.topK(corpus, idCol, vecCol, queries, qidCol, qvecCol, k, nLists, nProbe,
      rerank = 0, refineIters, seed, Ivf.ExactFit, queryBudget, "ivfTopK")

  /** IVF top-k with RUNTIME recall calibration — the nProbe THIS corpus
    * needs, which the √nLists heuristic cannot give on hostile neighbor
    * structures (the r11 ×64 stress: all-defaults recall@10 = 0.41).
    * nProbe doubles from the [[autoNProbe]] default until the recall@k
    * of a `sampleQueries`-row sample against its brute-force truth meets
    * `targetRecall` or hits the cap (`maxProbeFactor` × the start, at
    * most nLists); the full query set then runs once, with
    * `measured_recall` and `calibrated_nprobe` on every row. A cap
    * reached below target PROCEEDS with the shortfall in-band (stderr
    * warns; the q_ann_ivf_cal driver query asserts on the column).
    * Mechanism and release contract: [[Ivf.calibrated]]. */
  def ivfTopKCalibrated(corpus: DataFrame, idCol: String, vecCol: String,
                        queries: DataFrame, qidCol: String, qvecCol: String,
                        k: Int = 10, targetRecall: Double = 0.7,
                        sampleQueries: Int = 20,
                        nLists: Int = 0, nProbe: Int = 0,
                        maxProbeFactor: Int = 16,
                        refineIters: Int = 1, seed: Long = 42L,
                        queryBudget: Long = DefaultQueryBudget): DataFrame =
    Ivf.calibrated(corpus, idCol, vecCol, queries, qidCol, qvecCol, k,
      targetRecall, sampleQueries, nLists, nProbe, maxProbeFactor, rerank = None,
      refineIters, seed, Ivf.ExactFit, queryBudget, "ivfTopKCalibrated")

  /** Persist an IVF index: the assigned corpus written as parquet
    * PARTITIONED BY list_id (one directory per inverted list) plus the
    * centroid table and the drift baseline. Build once, query many: a
    * probe of nProbe lists becomes a partition-pruned scan that READS
    * only nProbe/nLists of the corpus bytes (pruning is visible in the
    * scan's PartitionFilters; asserted in PlanQualitySpec). */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, nLists: Int = 0,
                    refineIters: Int = 1, seed: Long = 42L): Unit =
    Ivf.build(corpus, idCol, vecCol, path, nLists, refineIters, seed,
      Ivf.ExactFit, "graft_ivf_build")

  /** Append a batch to a persisted [[buildIvfIndex]] index WITHOUT
    * retraining ([[Ivf.append]]): rows land under the FROZEN centroids.
    * As the distribution drifts, fixed-nProbe recall sags; the returned
    * [[IndexAppendStats]] measures it per batch (drift > 1.5 is the
    * REBUILD THRESHOLD) and every reading is appended to `path/stats`. */
  def appendToIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
                       path: String): IndexAppendStats =
    Ivf.append(batch, idCol, vecCol, path, Ivf.Exact, "graft_ivf_append",
      "appendToIvfIndex")

  /** Rebuild a persisted [[buildIvfIndex]] index from its OWN stored
    * rows — the action [[IndexAppendStats.rebuildRecommended]] points
    * at. The index stores the vectors, so build + every append IS the
    * corpus of record: centroids retrain, every row re-assigns, the
    * drift series restarts ([[Ivf.rebuild]]). `nLists <= 0` re-derives
    * √N from the CURRENT row count — an index that grew 4× gets 2×.
    * It is also the conversion for an index with no `stats` table,
    * which [[appendToIvfIndex]] refuses. */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      nLists: Int = 0, refineIters: Int = 1, seed: Long = 42L): Unit = {
    val lists = spark.read.parquet(s"$path/lists")
    val (idCol, vecCol) = Ivf.storedCols(Ivf.Exact, lists)
    Ivf.rebuild(spark, path)(tmp => buildIvfIndex(lists.select(col(idCol), col(vecCol)),
      idCol, vecCol, tmp, nLists, refineIters, seed))
  }

  /** Query a persisted IVF index: rank lists per query against the
    * (tiny) centroid table, then scan ONLY the probed list partitions.
    * The `isin` filter prunes at the file-listing level — untouched
    * lists are never opened. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int = 10, nProbe: Int = 0,
                     queryBudget: Long = DefaultQueryBudget): DataFrame =
    Ivf.indexed(spark, path, queries, qidCol, qvecCol, k, nProbe, rerank = 0,
      vecs = null, Ivf.Exact, queryBudget, "ivfTopKIndexed")

  /** Banded LSH approximate neighbor pairs within the corpus — MinHash
    * banding in embedding space: `bands` hyperplane sketches of `nBits`
    * each (CosineLshBandsExpr), candidates from the (band, key) bucket
    * join, exact-cosine verify. A pair at cosine c misses all bands
    * with prob (1-p^nBits)^bands, p = 1-acos(c)/π (c=0.95, 16×6-bit
    * bands → ≈ 6e-6). Vectors join back on the candidate pairs only.
    *
    * Bucket sizing: expected bucket size is n/2^nBits and the per-band
    * self-join is quadratic in it, so `nBits <= 0` derives the bucket
    * space from one corpus count ([[graft.ml.Dedup.autoNBits]], target
    * `targetBucketRows`) and `bands <= 0` co-scales via
    * [[graft.ml.Dedup.autoBands]] to hold per-pair miss ≤ `missBound`
    * AT the threshold — raising past the band cap at plan time instead
    * of silently dropping recall. Explicit values honored. */
  def lshNeighborPairs(corpus: DataFrame, idCol: String, vecCol: String,
                       nBits: Int = 0, bands: Int = 0,
                       threshold: Double = 0.8, seed: Long = 42L,
                       targetBucketRows: Long = 1000L,
                       missBound: Double = 1e-3): DataFrame = {
    val useBits = if (nBits > 0) nBits
      else graft.ml.Dedup.autoNBits(corpus.count(), targetBucketRows)
    val useBands = if (bands > 0) bands
      else graft.ml.Dedup.autoBands(threshold, useBits, missBound)
    // persisted like Dedup.sigFrame (LRU): the band keys feed BOTH sides
    // of the self-join and both verify joins re-read the vectors
    val keyed = corpus.select(col(idCol).as("__id"),
      graft.functions.Kernels.cosineLshBands(col(vecCol), useBands, useBits, seed).as("__keys"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = keyed.select(col("__id"),
      posexplode(col("__keys")).as(Seq("__band", "__key")))
    val cand = banded.select(col("__id").as("id_a"), col("__band"), col("__key"))
      .join(banded.select(col("__id").as("id_b"), col("__band"), col("__key")),
        Seq("__band", "__key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val vecs = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand
      .join(vecs.select(col("__id").as("id_a"), col("__v").as("va")), Seq("id_a"))
      .join(vecs.select(col("__id").as("id_b"), col("__v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }
}
