package graft.ml

import graft.core.Persisted.{holding, keeping, localize}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField}

/** The one IVF index lifecycle behind [[Similarity]]'s exact-cosine
  * entry points and [[Pq]]'s IVF-PQ ones — centroids, assignment, probe
  * ranking, build / append / rebuild / pruned probe and the calibrated
  * loop — parameterized by a [[Scorer]]. Index layout at `path`:
  * `centroids` (list_id, cvec), `lists` (the scorer's rows, partitioned
  * by list_id), `stats` (the drift series, [[IndexStats]]) and, for
  * ADC, `model` (the stored codebook). */
private[ml] object Ivf {

  /** How a probe scores the candidates of the lists it reaches. */
  sealed trait Scorer {
    /** Stored row layout (id, payload…, list_id) of an assigned frame. */
    def layout(assigned: DataFrame, idCol: String, vecCol: String,
               cents: DataFrame): DataFrame
    /** Is this stored column payload rather than the row id? */
    def isPayload(f: StructField): Boolean
    /** Probe candidates (nn_id, payload…, list_id) of a stored layout. */
    def cands(lists: DataFrame, idCol: String, vecCol: String): DataFrame
    /** Adds the scorer's per-query columns to a (query_id, __q) frame. */
    def querySide(q: DataFrame): DataFrame
    /** Columns a ranked probe row carries into the candidate join. */
    def probeCols: Seq[String]
    /** `cos_sim` of a candidate row joined with its probe row. */
    def score: Column
    /** The frozen geometry an append must match: (dim, element type). */
    def frozen(spark: SparkSession, path: String): (Option[Int], Option[DataType])
    /** The entry point that rebuilds (and converts) this kind of index. */
    def rebuiltBy: String
  }

  /** Exact cosine over the stored vectors. */
  case object Exact extends Scorer {
    def layout(assigned: DataFrame, idCol: String, vecCol: String,
               cents: DataFrame): DataFrame =
      assigned.select(col(idCol), col(vecCol), col("list_id"))
    def isPayload(f: StructField): Boolean =
      f.dataType.isInstanceOf[ArrayType]
    def cands(lists: DataFrame, idCol: String, vecCol: String): DataFrame =
      lists.select(col(idCol).as("nn_id"), col(vecCol).as("__v"), col("list_id"))
    def querySide(q: DataFrame): DataFrame = q
    def probeCols: Seq[String] = Seq("query_id", "__q", "list_id")
    def score: Column = Similarity.cosine(col("__v"), col("__q")).as("cos_sim")
    // stored raw vectors fix both the dim and the element type
    def frozen(spark: SparkSession, path: String): (Option[Int], Option[DataType]) =
      (spark.read.parquet(s"$path/centroids").select(size(col("cvec"))).head(1)
        .headOption.map(_.getInt(0)),
        spark.read.parquet(s"$path/lists").schema.map(_.dataType)
          .collectFirst { case ArrayType(et, _) => et })
    def rebuiltBy: String = "rebuildIvfIndex"
  }

  /** Asymmetric-distance scoring over stored residual (IVFADC) PQ codes
    * and exact norms: a code decodes against the centroid of the list
    * it was assigned under ([[Pq.trainResidual]]). */
  final case class Adc(model: Pq.PqModel) extends Scorer {
    def layout(assigned: DataFrame, idCol: String, vecCol: String,
               cents: DataFrame): DataFrame =
      Pq.encodeResidual(assigned, vecCol, model, cents)
        .select(col(idCol), col("pq_codes"), col("pq_norm"), col("list_id"))
    def isPayload(f: StructField): Boolean =
      f.name == "pq_codes" || f.name == "pq_norm"
    def cands(lists: DataFrame, idCol: String, vecCol: String): DataFrame =
      lists.select(col(idCol).as("nn_id"), col("pq_codes").as("__c"),
          col("pq_norm").as("__n"), col("list_id"))
        .filter(col("__c").isNotNull)
    def querySide(q: DataFrame): DataFrame = Pq.adcQuerySide(q, model)
    // `__qc` = ⟨q, c_list⟩, recovered in rank() from the ranking cosine
    // × both norms, is the residual ADC offset
    def probeCols: Seq[String] = Seq("query_id", "__table", "__qn", "__qc", "list_id")
    def score: Column = Pq.adcCos(model.k, residual = true)
    // codes, not vectors: only the codebook's dim is frozen
    def frozen(spark: SparkSession, path: String): (Option[Int], Option[DataType]) =
      (Some(model.dim), None)
    def rebuiltBy: String = "rebuildIvfPqIndex"
  }

  /** Trains a scorer from (assigned corpus, centroids). `readsAssignment`:
    * training runs actions over the assignment, so it is persisted. */
  final case class Fit(readsAssignment: Boolean, train: (DataFrame, DataFrame) => Scorer)

  val ExactFit: Fit = Fit(readsAssignment = false, (_, _) => Exact)

  /** (list count, localized centroid table); `nLists <= 0` self-sizes
    * via [[Similarity.autoNLists]] (one count). */
  def centroids(corpus: DataFrame, idCol: String, vecCol: String, nLists: Int,
                refineIters: Int, seed: Long): (Int, DataFrame) = {
    val lists = if (nLists > 0) nLists else Similarity.autoNLists(corpus.count())
    (lists, localize(Similarity.centroids(corpus, idCol, vecCol, lists, refineIters,
      seed))._1)
  }

  private def queryFrame(queries: DataFrame, qidCol: String, qvecCol: String) =
    queries.select(col(qidCol).as("query_id"), col(qvecCol).as("__q"))

  /** Rank lists per query against the centroid table and keep the top
    * `probes`, with the rank under `__r`, as a driver-local relation.
    * `(sim desc, list_id)` is a total order, so ranking once at a cap
    * and filtering `__r <= n` equals ranking at `n`. */
  private def rank(scorer: Scorer, q: DataFrame, cents: DataFrame,
                   probes: Int): (DataFrame, Array[Row]) = {
    val ranked = scorer.querySide(q)
      .crossJoin(broadcast(cents.withColumn("__cn", Similarity.norm(col("cvec")))))
      .withColumn("__sim", Similarity.cosine(col("__q"), col("cvec")))
    val withOffset = scorer match {
      case _: Adc => ranked.withColumn("__qc", col("__sim") * col("__qn") * col("__cn"))
      case Exact => ranked
    }
    localize(withOffset
      .withColumn("__r", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("__sim").desc, col("list_id"))))
      .filter(col("__r") <= probes)
      .select((scorer.probeCols :+ "__r").map(col): _*))
  }

  /** Score candidates against a probe set and keep the bounded top-k.
    * `rerank > 0` re-scores the top-max(rerank, k) with exact cosine
    * against `vecs` (nn_id, __v) — a queries × rerank-row join back. */
  private def scoreTopK(scorer: Scorer, cands: DataFrame, probe: DataFrame,
                        k: Int, rerank: Int, vecs: => DataFrame,
                        q: DataFrame): DataFrame = {
    val scored = cands.join(broadcast(probe.drop("__r")), Seq("list_id"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"), scorer.score)
    if (rerank <= 0) TopK.perQuery(scored, k)
    else TopK.perQuery(TopK.perQuery(scored, math.max(rerank, k))
      .select(col("query_id"), col("nn_id"))
      .join(vecs, Seq("nn_id")).join(q, Seq("query_id"))
      .select(col("query_id"), col("nn_id"),
        Similarity.cosine(col("__v"), col("__q")).as("cos_sim")), k)
  }

  private def vecsOf(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("nn_id"), col(vecCol).as("__v"))

  /** In-memory IVF top-k: train, assign, probe `nProbe` lists per query.
    * The assignment persist a training scorer needs is left to LRU: the
    * returned frame is lazy, so no in-library action can pair with it.
    * A training failure releases it ([[graft.core.Persisted.keeping]]). */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
           queries: DataFrame, qidCol: String, qvecCol: String,
           k: Int, nLists: Int, nProbe: Int, rerank: Int,
           refineIters: Int, seed: Long, fit: Fit,
           queryBudget: Long, caller: String): DataFrame = {
    Similarity.guardQueryBroadcast(queries, qvecCol, queryBudget, caller)
    val (lists, cents) = centroids(corpus, idCol, vecCol, nLists, refineIters, seed)
    val probes = if (nProbe > 0) nProbe else Similarity.autoNProbe(lists)
    val assigned = Similarity.assignLists(corpus, idCol, vecCol, cents)
    val scorer =
      if (fit.readsAssignment) keeping(hold => fit.train(hold(assigned), cents))
      else fit.train(assigned, cents)
    val q = queryFrame(queries, qidCol, qvecCol)
    scoreTopK(scorer, scorer.cands(scorer.layout(assigned, idCol, vecCol, cents),
        idCol, vecCol), rank(scorer, q, cents, probes)._1, k, rerank,
      vecsOf(if (fit.readsAssignment) assigned else corpus, idCol, vecCol), q)
  }

  /** IVF top-k with runtime recall calibration. Centroids and the list
    * assignment are computed once (persisted); a deterministic
    * `sampleQueries`-row query sample gets brute-force truth from the
    * persisted assignment and its lists ranked once at the probe cap.
    * The knobs then double until sampled recall@k meets `targetRecall`
    * or every cap is hit. `rerank = Some((start, cap))` adds the exact
    * re-rank depth as a second knob: the one whose last doubling moved
    * recall by ≥ 0.02 keeps control (nProbe first), a plateau or cap
    * hands over. The full query set runs once, materialized
    * (localCheckpoint, queries × k rows), so one `holding` scope
    * releases every corpus-scale persist on success and exception alike. */
  def calibrated(corpus: DataFrame, idCol: String, vecCol: String,
                 queries: DataFrame, qidCol: String, qvecCol: String,
                 k: Int, targetRecall: Double, sampleQueries: Int,
                 nLists: Int, nProbe: Int, maxProbeFactor: Int,
                 rerank: Option[(Int, Int)], refineIters: Int, seed: Long,
                 fit: Fit, queryBudget: Long, caller: String): DataFrame = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0,1]: $targetRecall")
    require(sampleQueries >= 1, s"sampleQueries must be >= 1: $sampleQueries")
    require(maxProbeFactor >= 1, s"maxProbeFactor must be >= 1: $maxProbeFactor")
    Similarity.guardQueryBroadcast(queries, qvecCol, queryBudget, caller)
    val (lists, cents) = centroids(corpus, idCol, vecCol, nLists, refineIters, seed)
    val startProbe = if (nProbe > 0) nProbe else Similarity.autoNProbe(lists)
    val probeCap = math.min(lists.toLong, startProbe.toLong * maxProbeFactor).toInt
    val (startRerank, rerankCap) = rerank.getOrElse((0, 0))
    holding { hold =>
      // every escalation step, the truth pass, each re-rank join and the
      // final probe read this one assignment
      val assigned = hold(Similarity.assignLists(corpus, idCol, vecCol, cents))
      val scorer = fit.train(assigned, cents)
      val cands = scorer.cands(scorer.layout(assigned, idCol, vecCol, cents),
        idCol, vecCol)
      // exact-cosine candidates are a projection of the held assignment
      if (scorer != Exact) hold(cands)
      val vecs = vecsOf(assigned, idCol, vecCol)
      val (sample, _) = localize(queryFrame(queries, qidCol, qvecCol)
        .orderBy(xxhash64(col("query_id"), lit(seed)), col("query_id"))
        .limit(sampleQueries))
      // the sample is guarded transitively above — skip the inner guard
      val truth = hold(Similarity.bruteForceTopK(assigned, idCol, vecCol,
          sample, "query_id", "__q", k, queryBudget = 0)
        .select(col("query_id"), col("nn_id")))
      val truthPairs = truth.count()
      lazy val sampleRanked = rank(scorer, sample, cents, probeCap)._1
      def sampledRecall(probe: Int, rr: Int): Double =
        scoreTopK(scorer, cands, sampleRanked.filter(col("__r") <= probe), k, rr,
            vecs, sample)
          .select(col("query_id"), col("nn_id"))
          .join(truth, Seq("query_id", "nn_id"), "left_semi").count()
          .toDouble / truthPairs
      var probe = math.min(startProbe, probeCap)
      var rr = math.min(startRerank, rerankCap)
      // empty truth (no sample / empty corpus): vacuous
      var recall = if (truthPairs == 0L) 1.0 else sampledRecall(probe, rr)
      val plateauEps = 0.02
      var probeKnob = true
      while (truthPairs != 0L && recall < targetRecall &&
          (probe < probeCap || rr < rerankCap)) {
        if (probeKnob && probe >= probeCap) probeKnob = false
        else if (!probeKnob && rr >= rerankCap) probeKnob = true
        if (probeKnob) probe = math.min(probe.toLong * 2, probeCap.toLong).toInt
        else rr = math.min(rr.toLong * 2, rerankCap.toLong).toInt
        val prevRecall = recall
        recall = sampledRecall(probe, rr)
        if (recall - prevRecall < plateauEps) probeKnob = !probeKnob
      }
      if (recall < targetRecall)
        System.err.println(
          f"[graft] $caller: caps reached (nProbe $probe/$lists lists" +
            (if (rerank.isDefined) s", rerank $rr" else "") +
            f") at sampled recall $recall%.3f < target $targetRecall%.3f — " +
            "this corpus needs larger caps or a brute-force pass; the " +
            "shortfall rides the measured_recall column")
      val q = queryFrame(queries, qidCol, qvecCol)
      val out = scoreTopK(scorer, cands, rank(scorer, q, cents, probe)._1, k, rr,
          vecs, q)
        .withColumn("measured_recall", lit(recall))
        .withColumn("calibrated_nprobe", lit(probe))
      (if (rerank.isDefined) out.withColumn("calibrated_rerank", lit(rr)) else out)
        .localCheckpoint()
    }
  }

  /** Persist an index at `path`: centroids, the scorer's list layout
    * partitioned by list_id, the ADC model row when there is one, and
    * the generation-0 drift baseline — observed on the job that first
    * materializes the assignment, so the stats cost no extra pass. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
            nLists: Int, refineIters: Int, seed: Long,
            fit: Fit, obsName: String): Unit = {
    val (_, cents) = centroids(corpus, idCol, vecCol, nLists, refineIters, seed)
    val (assigned, obs) = IndexStats.observed(Similarity.assignListsWithSim(
      corpus.select(col(idCol), col(vecCol)), idCol, vecCol, cents), obsName)
    holding { hold =>
      val scorer = fit.train(if (fit.readsAssignment) hold(assigned) else assigned, cents)
      scorer match {
        case Adc(model) => Pq.writeModel(corpus.sparkSession, model, s"$path/model")
        case Exact =>
      }
      cents.write.mode("overwrite").parquet(s"$path/centroids")
      scorer.layout(assigned, idCol, vecCol, cents)
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$path/lists")
    }
    IndexStats.write(corpus.sparkSession, path, generation = 0L,
      IndexStats.fromObs(obs), overwrite = true)
  }

  /** Append a batch under the index's FROZEN centroids (and codebook),
    * validated against the frozen geometry and the drift series first:
    * delta files land in each `list_id=` directory, nothing is
    * rewritten, pruning holds. The batch's mean D² against the build
    * baseline is the returned drift. */
  def append(batch: DataFrame, idCol: String, vecCol: String, path: String,
             scorer: Scorer, obsName: String, caller: String): IndexAppendStats = {
    val spark = batch.sparkSession
    val (dim, elem) = scorer.frozen(spark, path)
    IndexStats.validateBatch(batch, vecCol, dim, elem, caller)
    IndexStats.requireSeries(spark, path, scorer.rebuiltBy, caller)
    val cents = spark.read.parquet(s"$path/centroids")
    val (assigned, obs) = IndexStats.observed(Similarity.assignListsWithSim(
      batch.select(col(idCol), col(vecCol)), idCol, vecCol, cents), obsName)
    scorer.layout(assigned, idCol, vecCol, cents)
      .write.mode("append").partitionBy("list_id").parquet(s"$path/lists")
    IndexStats.appendAndReport(spark, path, IndexStats.fromObs(obs), caller)
  }

  /** Build a fresh index in a sibling directory with `buildInto`, then
    * swap it in subdirectory by subdirectory ([[IndexStats.swapIn]]);
    * the drift series restarts at a new generation-0 baseline. */
  def rebuild(spark: SparkSession, path: String)(buildInto: String => Unit): Unit = {
    val tmp = s"$path/.rebuild"
    buildInto(tmp)
    IndexStats.swapIn(spark, path, tmp, Seq("model", "centroids", "lists", "stats"))
  }

  /** (id column, first other column) of a stored list layout. */
  def storedCols(scorer: Scorer, lists: DataFrame): (String, String) = {
    val idCol = lists.schema.fields
      .filterNot(f => f.name == "list_id" || scorer.isPayload(f)).head.name
    (idCol, lists.columns.filterNot(c => c == "list_id" || c == idCol).head)
  }

  /** Probe a persisted index, scanning ONLY the probed list partitions
    * (the `isin` literal prunes at file listing). `nProbe <= 0`
    * co-scales with the stored list count; re-rank vectors come from
    * `vecs` (nn_id, __v). */
  def indexed(spark: SparkSession, path: String, queries: DataFrame,
              qidCol: String, qvecCol: String, k: Int, nProbe: Int,
              rerank: Int, vecs: => DataFrame, scorer: Scorer,
              queryBudget: Long, caller: String): DataFrame = {
    Similarity.guardQueryBroadcast(queries, qvecCol, queryBudget, caller)
    val cents = spark.read.parquet(s"$path/centroids")
    val probes = if (nProbe > 0) nProbe else Similarity.autoNProbe(cents.count().toInt)
    val q = queryFrame(queries, qidCol, qvecCol)
    val (probe, rows) = rank(scorer, q, cents, probes)
    val lists = spark.read.parquet(s"$path/lists")
      .filter(col("list_id").isin(rows.map(_.getAs[Long]("list_id")).distinct.toSeq: _*))
    val (idCol, vecCol) = storedCols(scorer, lists)
    scoreTopK(scorer, scorer.cands(lists, idCol, vecCol), probe, k, rerank, vecs, q)
  }
}

/** One append cycle's drift evidence ([[Similarity.appendToIvfIndex]],
  * [[Pq.appendToIvfPqIndex]]): how far the new batch sits from the
  * index's FROZEN centroids, relative to what the training data
  * measured at build time. `drift > 1.5` is the documented rebuild
  * threshold; NaN means one side has no non-null vector to measure
  * (an all-null batch, or a build over no non-null vectors). */
case class IndexAppendStats(appendedRows: Long, batchMeanD2: Double,
                            baseMeanD2: Double, drift: Double,
                            generation: Long) {
  def rebuildRecommended: Boolean = drift > IndexAppendStats.RebuildDriftThreshold
}

object IndexAppendStats {
  /** The documented rebuild line for [[IndexAppendStats.drift]]: past
    * 1.5× the frozen centroids are materially stale — lists unbalance
    * and fixed-probe recall sags (the r11 ×64 rotation fixture shows
    * the failure in the extreme). The audit surface reads it too. */
  val RebuildDriftThreshold: Double = 1.5
}

/** Assignment-quality bookkeeping stored INSIDE IVF-family indexes
  * (`path/stats`: one row per generation — 0 at build, +1 per append).
  * Mean angular D² = mean of 2·(1−cos) to the winning centroid, the
  * k-means objective itself. */
private[ml] object IndexStats {
  import org.apache.hadoop.fs.Path
  import IndexAppendStats.RebuildDriftThreshold

  /** Swap a rebuilt index's subdirectories into place with TWO RENAMES
    * per subdirectory, never a delete-then-rename (whose window, O(index
    * files) long, showed concurrent probes NO table): set any stale
    * `<sub>.old` aside, rename the live `<sub>` to `<sub>.old`, rename
    * `tmp/<sub>` in, delete the aside. Single-writer contract; a reader
    * can straddle the per-subdirectory swaps, so probes during a
    * rebuild are best-effort. Subdirectories the rebuild did not write
    * (`model` for an exact-cosine index) are skipped.
    *
    * CRASH RECOVERY: a crash between the renames leaves `<sub>.old`
    * and `tmp/<sub>` but no live `<sub>` — rename either into place
    * (roll back / roll forward) and delete the other. A leftover
    * `.rebuild`/`.old` beside a HEALTHY live table is safe to delete. */
  def swapIn(spark: SparkSession, path: String, tmp: String,
             subdirs: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    subdirs.foreach { sub =>
      val (src, dst, old) = (new Path(s"$tmp/$sub"), new Path(s"$path/$sub"),
        new Path(s"$path/$sub.old"))
      val fs = dst.getFileSystem(conf)
      if (fs.exists(src)) {
        fs.delete(old, true) // stale aside from a crashed prior swap
        if (fs.exists(dst))
          require(fs.rename(dst, old), s"swapIn: rename $dst -> $old failed — " +
            s"the live table is untouched; the rebuild stays at $src")
        require(fs.rename(src, dst), s"swapIn: rename $src -> $dst failed — " +
          s"recover by renaming $old back to $dst (roll back) or $src in (roll forward)")
        fs.delete(old, true)
      }
    }
    val tmpPath = new Path(tmp)
    tmpPath.getFileSystem(conf).delete(tmpPath, true)
  }

  /** Fail-fast append contract: the batch's vector column must match
    * the FROZEN index geometry — array type, element type (when the
    * index stores raw vectors) and dim (one non-null head row) — before
    * any delta file lands; a mismatch would otherwise surface only at
    * probe time. `None` skips the unverifiable half of a degenerate
    * (empty-build) index. */
  def validateBatch(batch: DataFrame, vecCol: String, expectedDim: Option[Int],
                    expectedElem: Option[DataType], caller: String): Unit = {
    val elem = batch.schema(vecCol).dataType match {
      case ArrayType(et, _) => et
      case other => throw new IllegalArgumentException(
        s"$caller: batch column '$vecCol' is $other, not an array vector " +
          "column — appends run under the index's frozen geometry")
    }
    expectedElem.foreach { want =>
      require(elem == want,
        s"$caller: batch '$vecCol' holds array<${elem.simpleString}> but " +
          s"the index stores array<${want.simpleString}> — appending would " +
          "mix parquet schemas inside lists/ and fail at probe time; cast " +
          "the batch to the index's element type (geometry is frozen at " +
          "build)")
    }
    expectedDim.foreach { want =>
      batch.select(col(vecCol)).filter(col(vecCol).isNotNull).head(1).foreach { r =>
        val got = r.getSeq[Any](0).size
        require(got == want,
          s"$caller: batch vectors have dim $got but the index was built " +
            s"at dim $want — frozen centroids/codebooks cannot assign a " +
            "different dimensionality; rebuild the index for the new " +
            "geometry")
      }
    }
  }

  /** Fail-fast format contract: an index without a `stats` table was
    * built before drift tracking, so an append would have no baseline.
    * Refused before any delta file lands; `rebuiltBy` starts the
    * series (and converts the index). */
  def requireSeries(spark: SparkSession, path: String, rebuiltBy: String,
                    caller: String): Unit = {
    val stats = new Path(s"$path/stats")
    require(stats.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(stats),
      s"$caller: the index at $path has no stats table (built before drift tracking) " +
        s"— rebuild it once with $rebuiltBy, which starts the drift series")
  }

  /** Ride (rows, meanD2) on the index WRITE job itself via
    * `Dataset.observe` — no extra assignment scan for statistics. Null
    * sims (null vectors) sit out the mean but count as rows. Read with
    * [[fromObs]] AFTER the action; names are unique per call, since
    * observation listeners match by name. */
  private val obsCounter = new java.util.concurrent.atomic.AtomicLong()

  def observed(assigned: DataFrame, name: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(s"${name}_${obsCounter.incrementAndGet()}")
    (assigned.observe(obs, count(lit(1)).as("rows"),
      avg(lit(2.0) * (lit(1.0) - col("__sim"))).as("mean_d2")), obs)
  }

  def fromObs(obs: org.apache.spark.sql.Observation): (Long, Double) = {
    val row = obs.get
    (row("rows").asInstanceOf[Long],
      Option(row("mean_d2")).map(_.asInstanceOf[Double]).getOrElse(Double.NaN))
  }

  def write(spark: SparkSession, path: String, generation: Long,
            stats: (Long, Double), overwrite: Boolean): Unit = {
    import spark.implicits._
    Seq((generation, stats._1, stats._2)).toDF("generation", "rows", "mean_d2")
      .write.mode(if (overwrite) "overwrite" else "append").parquet(s"$path/stats")
  }

  /** Read the stored series ([[requireSeries]] has checked that it
    * exists), append this batch's generation, and report drift vs the
    * BUILD generation (0). */
  def appendAndReport(spark: SparkSession, path: String,
                      batch: (Long, Double), caller: String): IndexAppendStats = {
    val stored = spark.read.parquet(s"$path/stats").select(col("generation"), col("mean_d2")).collect()
    val base = stored.find(_.getLong(0) == 0L).map(_.getDouble(1)).getOrElse(Double.NaN)
    val gen = stored.map(_.getLong(0)).max + 1L
    write(spark, path, gen, batch, overwrite = false)
    val drift = batch._2 / base
    val out = IndexAppendStats(batch._1, batch._2, base, drift, gen)
    if (out.rebuildRecommended)
      System.err.println(
        f"[graft] $caller: batch mean D² ${batch._2}%.4f is ${drift}%.2f× the " +
          f"build baseline $base%.4f (threshold $RebuildDriftThreshold) — the " +
          "frozen centroids are stale for this data; rebuild the index " +
          "before fixed-probe recall pays for it")
    out
  }
}
