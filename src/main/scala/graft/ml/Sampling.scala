package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, content-stable sampling — the reproducibility tools
  * a training-data pipeline needs beyond the reference's RNG-based
  * `sample_n`/`sample_frac` (which answer "give me n random rows",
  * not "give me the SAME split every run on every cluster").
  *
  * Both operators derive randomness from a SQL-expressible integer
  * hash of the row's own id (`(id * 2654435761 + seed) % 2^31-1`,
  * Knuth's multiplicative scheme over a Mersenne prime), so:
  * - the assignment is a pure per-row function — map-only, no
  *   shuffle for [[hashSplit]], re-runnable on any partitioning;
  * - adding or removing OTHER rows never changes a row's fate (the
  *   property percentage-based `limit` sampling lacks);
  * - an external system (SQL warehouse, another engine) can compute
  *   the identical assignment for audit — the driver oracle does.
  * All arithmetic stays under 2^63 for |id| below ~3.5e9 (negative ids
  * are valid: the draw is pmod, so u stays in (0,1)); the uniform
  * u = (h + 0.5) / (2^31-1) is never 0 or 1, so `ln(u)` is finite. */
object Sampling {

  private[graft] val P = 2654435761L      // Knuth multiplicative constant
  private[graft] val M = 2147483647L      // 2^31 - 1

  /** The shared integer draw: `(id·P + seed) mod M` — every
    * hash-deterministic operator (splits, samples, shards) derives
    * from this one formula so external auditors reproduce them all
    * with the same arithmetic. |id| must stay below ~3.5e9 to keep
    * `id·P` inside a long. */
  private[graft] def knuthHash(id: Column, seed: Long): Column =
    pmod(id * P + lit(seed), lit(M))

  /** Uniform draw in (0,1) from [[knuthHash]] — pmod, not `%`, so a
    * NEGATIVE id still yields u ∈ (0,1): with plain `%` it gave u ≤ 0,
    * whose -ln(u) is null/∞ — such rows would sort first in every
    * weightedSample top-k and land in hashSplit's first split. */
  private def hashU(id: Column, seed: Long): Column =
    (knuthHash(id, seed) + 0.5) / M.toDouble

  /** The Knuth draw is integer arithmetic over the id — a string id
    * would die mid-job on an ANSI cast (or, ANSI off, hash to NULL and
    * silently bias the draw to plain id order). Refuse at the API
    * instead, the repo's analysis-time convention. */
  private[graft] def requireNumericId(df: DataFrame, idCol: String, op: String): Unit =
    df.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => ()
      case other => throw new IllegalArgumentException(
        s"$op draws from a Knuth hash of the id and needs a NUMERIC id " +
          s"column, got $idCol: $other")
    }

  /** Micro-quantized weight table: (source, round(w·1e6)) sorted by
    * source, plus the exact integer Σw — the ONE definition of the
    * weight contract shared by every explicit-mixture operator. */
  private def quantizeWeights(weights: Map[String, Double],
                              op: String): (Seq[(String, Long)], Long) = {
    require(weights.nonEmpty, s"$op needs at least one weight")
    require(weights.values.forall(_ > 0),
      "mixture weights must be positive — exclude a source by omitting it")
    val wMicro = weights.toSeq.sortBy(_._1)
      .map { case (k, v) => (k, math.round(v * 1e6)) }
    require(wMicro.forall(_._2 > 0),
      "mixture weights below 5e-7 quantize to zero micro-units")
    (wMicro, wMicro.map(_._2).sum)
  }

  /** Append a `split` column assigning each row to a named fraction —
    * deterministic train/val/test partitioning. `splits` are
    * (name, fraction) pairs summing to ~1; a row lands in the split
    * whose cumulative range contains its uniform hash. Map-only. */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)], seed: Long = 42L): DataFrame = {
    require(splits.nonEmpty, "hashSplit needs at least one split")
    require(splits.forall(_._2 > 0), "split fractions must be positive")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"split fractions must sum to 1, got $total")
    requireNumericId(df, idCol, "hashSplit")
    require(!df.columns.contains("split"),
      "hashSplit appends 'split' — the input already has that column")
    val u = hashU(col(idCol), seed)
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    // the last split takes the remainder so float accumulation can
    // never leave a row unassigned
    val expr = splits.init.zip(cum.init).reverse
      .foldLeft(lit(splits.last._1): Column) { case (acc, ((name, _), hi)) =>
        when(u < hi, lit(name)).otherwise(acc)
      }
    df.withColumn("split", expr)
  }

  /** LEAKAGE-SAFE train/val/test split: every member of a near-dup
    * cluster lands in the SAME split. The draw hashes the CLUSTER
    * label (the component's min id, from
    * [[graft.ml.Dedup.connectedComponents]]) instead of the row id,
    * so near-duplicate pairs can never straddle the train/test
    * boundary — the contamination a row-wise [[hashSplit]] silently
    * permits whenever dedup kept both members (or ran after
    * splitting). Rows absent from `labels` are their own singleton
    * cluster and draw on their id, so on a duplicate-free corpus
    * this IS hashSplit. Same content-stable Knuth arithmetic, splits
    * contract, and appended `split` column as [[hashSplit]].
    *
    * Scale shape: hashSplit's map-only draw plus ONE left join
    * against the duplicate-scale (broadcast-able) labels frame. */
  def splitByCluster(df: DataFrame, idCol: String, labels: DataFrame,
                     splits: Seq[(String, Double)], seed: Long = 42L): DataFrame = {
    requireNumericId(df, idCol, "splitByCluster")
    require(!df.columns.contains("__graft_skey"),
      "splitByCluster uses '__graft_skey' internally — rename that column")
    val lab = labels.select(col("id").as(idCol), col("label").as("__graft_skey"))
    val keyed = df.join(lab, Seq(idCol), "left")
      .withColumn("__graft_skey", coalesce(col("__graft_skey"), col(idCol)))
    // the using-column join hoists idCol first — restore df's column
    // order so this really is a drop-in hashSplit replacement
    hashSplit(keyed, "__graft_skey", splits, seed)
      .select((df.columns.map(col) :+ col("split")).toIndexedSeq: _*)
  }

  /** Temperature resampling across sources — the multilingual-mixing
    * primitive: keep a `targetFraction` of the corpus with per-source
    * rates proportional to `n_s^alpha` (alpha < 1 flattens the mix
    * toward rare sources, alpha = 1 preserves it, alpha = 0 equalizes
    * expected counts). Per-source keep probability:
    *   p_s = min(1, targetFraction · N · n_s^alpha / (Σ n^alpha · n_s))
    * quantized to MICRO-units, with the per-row draw the same Knuth
    * id-hash as [[hashSplit]] compared in INTEGER arithmetic —
    * deterministic, content-stable, and bit-reproducible by any SQL
    * engine (the driver oracle is one).
    *
    * Scale shape: one count aggregation (sources ≪ corpus), a one-row
    * total, both broadcast back; the corpus-side decision is a
    * map-only filter. Rows with a null source are dropped (no rate is
    * defined for them). */
  def temperatureResample(df: DataFrame, srcCol: String, idCol: String,
                          alpha: Double, targetFraction: Double,
                          seed: Long = 42L): DataFrame = {
    // alpha ∈ [0,1] is the flattening range (1 preserves, 0 equalizes);
    // it also bounds the micro-quantized weights: pow(n, alpha) ≤ n, so
    // __pw ≤ n·1e6 and the integer sums cannot overflow below ~9e12
    // rows per source. alpha > 1 (sharpening) would need a rescaled
    // quantization and is not supported.
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0, 1], got $alpha")
    require(targetFraction > 0 && targetFraction <= 1,
      s"targetFraction must be in (0,1], got $targetFraction")
    requireNumericId(df, idCol, "temperatureResample")
    // per-source weights quantize to micro-units BEFORE the sum, so
    // Σ n^alpha is an order-independent INTEGER — like every other
    // micro-unit contract here, the rates are then bit-reproducible
    // regardless of partial-aggregation merge order or engine
    val stats = df.filter(col(srcCol).isNotNull)
      .groupBy(col(srcCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__pw", round(pow(col("__n"), lit(alpha)) * lit(1e6), 0).cast("long"))
    val totals = stats.agg(sum(col("__n")).as("__tot"),
      sum(col("__pw")).as("__sp"))
    val rates = stats.crossJoin(broadcast(totals))
      .select(col(srcCol),
        round(least(lit(1.0),
          lit(targetFraction) * col("__tot").cast("double") * col("__pw").cast("double") /
            (col("__sp").cast("double") * col("__n").cast("double"))) * lit(1e6), 0)
          .cast("long").as("__pm"))
    // knuthHash (pmod): plain `%` would hand every negative id a
    // negative draw, which the integer compare below always keeps
    val h = knuthHash(col(idCol), seed)
    df.join(broadcast(rates), Seq(srcCol))
      .filter(h * lit(2000000L) + lit(1000000L) < col("__pm") * lit(2 * M))
      .drop("__pm")
  }

  /** Resample to an EXPLICIT target mixture — the "train on 40% en,
    * 30% zh, …" knob, complementing [[temperatureResample]] (which
    * derives the mix from observed counts). Each listed source keeps
    *   p_s = min(1, targetFraction · N · (w_s/Σw) / n_s)
    * of its rows (N = rows across LISTED sources), so the output
    * approaches `targetFraction · N` rows at the requested shares;
    * an undersupplied source caps at 1 (takes everything it has) and
    * the realized mixture shifts accordingly rather than upsampling —
    * duplication policy belongs to the caller. Sources absent from
    * `weights` (and null sources) are DROPPED: an explicit mixture is
    * also an explicit exclusion list.
    *
    * Same determinism contract as the rest of this object: weights
    * micro-quantized driver-side (integer Σw), rates micro-quantized
    * with one fixed IEEE op order, the per-row draw compared in
    * integer arithmetic — bit-reproducible by any SQL engine.
    *
    * Scale shape: one count aggregation over listed sources (sources
    * ≪ corpus), rates broadcast back, map-only integer filter on the
    * corpus side — no corpus shuffle at any size. */
  def mixtureResample(df: DataFrame, srcCol: String, idCol: String,
                      weights: Map[String, Double], targetFraction: Double,
                      seed: Long = 42L): DataFrame = {
    require(targetFraction > 0 && targetFraction <= 1,
      s"targetFraction must be in (0,1], got $targetFraction")
    requireNumericId(df, idCol, "mixtureResample")
    // micro-quantize the weights on the driver: Σw is then an exact
    // integer and every engine computes the identical shares
    val (wMicro, sw) = quantizeWeights(weights, "mixtureResample")
    val spark = df.sparkSession
    import spark.implicits._
    val wDf = wMicro.toDF(srcCol, "__wm")
    val stats = df.filter(col(srcCol).isNotNull)
      .groupBy(col(srcCol)).agg(count(lit(1)).as("__n"))
      .join(broadcast(wDf), Seq(srcCol))
    val totals = stats.agg(sum(col("__n")).as("__tot"))
    val rates = stats.crossJoin(broadcast(totals))
      .select(col(srcCol),
        round(least(lit(1.0),
          lit(targetFraction) * col("__tot").cast("double") * col("__wm").cast("double") /
            (lit(sw.toDouble) * col("__n").cast("double"))) * lit(1e6), 0)
          .cast("long").as("__pm"))
    val h = knuthHash(col(idCol), seed)
    // inner join: unlisted sources have no rate and are excluded
    df.join(broadcast(rates), Seq(srcCol))
      .filter(h * lit(2000000L) + lit(1000000L) < col("__pm") * lit(2 * M))
      .drop("__pm")
  }

  /** Deterministic stratified sample: exactly min(n, |stratum|) rows
    * per stratum, chosen by the content-stable Knuth-hash order (id
    * tie-break) — "give me the SAME 1000 docs per language every run,
    * on any cluster". The uniform counterpart of [[weightedSample]].
    * Adding/removing rows can only shift the selection boundary, never
    * reshuffle it (the hash order is a pure row function), and any SQL
    * engine reproduces the draw. Rows with a null id are excluded (no
    * draw is defined for them — same convention as weightedSample's
    * null weights).
    *
    * The n smallest (hash, id) pairs per stratum come from
    * [[TopK.smallestPerGroup]]: two physical paths, identical selected
    * set. Integral ids with n ≤ [[TopK.MaxBufferedK]] take the
    * bounded-k fold — each task folds its slice into a ≤n buffer per
    * stratum, only strata × tasks × n pairs shuffle, the picked ids
    * (strata × n rows, broadcast-sized in practice) join back
    * map-side — no stratum is ever sorted whole; larger n, and
    * non-integral numeric ids, take the per-stratum `row_number`
    * window, which exchanges and sorts the full input. Ids must be
    * numeric (the Knuth draw is integer arithmetic); at 100 TB prefer
    * integral ids and sample-sized n. A null stratum is a real
    * stratum. */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String], idCol: String,
                       n: Int, seed: Long = 42L): DataFrame = {
    require(strataCols.nonEmpty, "stratifiedSample needs at least one stratum column")
    require(n > 0, s"n must be positive, got $n")
    requireNumericId(df, idCol, "stratifiedSample")
    TopK.smallestPerGroup(df.filter(col(idCol).isNotNull), strataCols, idCol,
      knuthHash(col(idCol), seed), n)
  }

  /** EXACT-COUNT mixture sample: floor-apportioned per-source targets
    * from explicit weights — "give me exactly ~1M docs at 40% en /
    * 30% zh / …", where [[mixtureResample]] (rate-based) only hits the
    * mixture in expectation. Per source, target_s = ⌊totalN · w_s/Σw⌋
    * computed in INTEGER arithmetic over the micro-quantized weights
    * (data-independent, so any engine reproduces the targets as
    * constants), and the source's min(target_s, supply) rows are taken
    * in the same content-stable hash order as [[stratifiedSample]].
    * An undersupplied source takes everything it has — no
    * redistribution (the realized total shrinks; duplication policy
    * belongs to the caller). Unlisted and null sources are dropped;
    * null ids are excluded. Selection is [[TopK.smallestPerGroup]]
    * capped per source: integral ids with every target ≤
    * [[TopK.MaxBufferedK]] take the bounded-k fold (each source's
    * buffer holds the largest target; a source keeps its first
    * target_s positions); corpus-scale targets take one per-source
    * `row_number` window, which sorts each source whole. */
  def mixtureSampleExact(df: DataFrame, srcCol: String, idCol: String,
                         weights: Map[String, Double], totalN: Long,
                         seed: Long = 42L): DataFrame = {
    require(totalN > 0, s"totalN must be positive, got $totalN")
    requireNumericId(df, idCol, "mixtureSampleExact")
    val (wMicro, sw) = quantizeWeights(weights, "mixtureSampleExact")
    // targets through BigInt: totalN × wm can pass 2^63 for
    // arbitrary-scale weights (they are shares, not probabilities) —
    // plain Long arithmetic would wrap silently on the driver
    val targets = wMicro
      .map { case (k, wm) => (k, (BigInt(totalN) * wm / sw).toLong) }
      .filter(_._2 > 0)
    require(targets.nonEmpty,
      s"totalN = $totalN floor-apportions every source to zero rows")
    val spark = df.sparkSession
    import spark.implicits._
    TopK.smallestPerGroup(df.filter(col(idCol).isNotNull), Seq(srcCol), idCol,
      knuthHash(col(idCol), seed), targets.map(_._2).max,
      Some(targets.toDF(srcCol, "__cap")))
  }

  /** Weighted sample WITHOUT replacement, k rows per key group:
    * exponential-clock priorities (Efraimidis–Spirakis via
    * `-ln(u)/w`), smallest k win — a row's selection probability is
    * proportional to `weightCol` at every prefix, and the whole draw
    * is reproducible from (id, seed). Rows with null/non-positive
    * weights are excluded. One shuffle on the keys (the top-k rank);
    * ties are impossible (distinct ids give distinct priorities). */
  def weightedSample(df: DataFrame, keyCols: Seq[String], idCol: String,
                     weightCol: String, k: Int, seed: Long = 42L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    requireNumericId(df, idCol, "weightedSample")
    val pri = "__ws_priority"
    val rn = "__ws_rank"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(pri), col(idCol))
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn(pri, -log(hashU(col(idCol), seed)) / col(weightCol))
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) <= k)
      .drop(pri, rn)
  }
}
