package graft

import graft.core.{Agg, CrysFrame, sel}
import graft.ml.{Dedup, HeavyHitters, Sampling, Similarity}
import graft.operators.{AsOfJoin, BloomPrune, Skew}
import graft.sources.{Readers, Warc, ZOrder}
import graft.text.{Search, TextFunctions}
import graft.multimodal.Multimodal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the scale-extension operators), each with a DuckDB
  * oracle where SQL-expressible.
  *
  * Determinism rules used throughout (the driver hash-compares):
  *   - every query ends in a total ORDER BY over a unique key,
  *   - money sums go through exact decimal accumulation
  *     (`sum(cast(x as decimal(18,6)))` then a final decimal cast) so
  *     Spark/DuckDB float association order can't flip a rounding,
  *   - averages are rounded to 6 digits (assoc. error ~1e-12),
  *   - integer sums are CAST(.. AS BIGINT) in DuckDB (it widens to
  *     HUGEINT natively; Spark stays long).
  */
object SparkEntry {

  /** Table loader. The events table stores TIMESTAMP(NANOS) which the
    * Spark 4 parquet reader rejects; read nanos as long
    * (`spark.sql.legacy.parquet.nanosAsLong`) and floor-convert to a
    * microsecond timestamp — the same µs truncation DuckDB applies. */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => }
    val df = s.read.parquet(s"$dir/$name.parquet")
    // the driver has shipped events.ts as TIMESTAMP(NANOS) (long under
    // nanosAsLong) in some rounds and timestamp[us] (TIMESTAMP_NTZ) in
    // others — normalize both to a session-tz TIMESTAMP so downstream
    // micro-exact ops (unix_micros in sessionize / range join) resolve.
    // Sessions here run UTC, so the NTZ→LTZ cast is value-exact.
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  private def cf(s: SparkSession, dir: String, name: String): CrysFrame =
    CrysFrame(t(s, dir, name))

  /** The SQL-expressible near-dup pair graph that the three
    * CC-family oracle queries share (q_cc_labels / q_cc_best /
    * q_split_leakage): exact 5-gram Jaccard >= 0.25 over the
    * doc_id < 200 slice. Returns (docs(doc_id, __norm), pairs) —
    * the bounded cross join is a PROOF harness (DuckDB recomputes it
    * in a CTE), not a production candidate path (that is the banded
    * LSH). A threshold/shingle change here must be mirrored in all
    * three oracles' CTEs. */
  private def ccDocsAndPairs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = t(s, d, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"),
        graft.text.TextFunctions.normalizeText(col("text")).as("__norm"))
    val sh = docs.select(col("doc_id"),
      graft.text.TextFunctions.shinglesFromNormalized(col("__norm"), 5).as("__sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("__sh").as("__sha"))
    val b = sh.select(col("doc_id").as("id_b"), col("__sh").as("__shb"))
    val inter = size(array_intersect(col("__sha"), col("__shb"))).cast("double")
    val uni = size(array_union(col("__sha"), col("__shb"))).cast("double")
    val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(when(uni === 0, lit(0.0)).otherwise(inter / uni) >= 0.25)
      .select(col("id_a"), col("id_b"))
    (docs, pairs)
  }

  // ---------------------------------------------------------------------
  // in-band certificates: a rows-only query whose answer cannot be
  // oracle-checked proves it in the query itself, and raises instead of
  // shipping a wrong answer
  // ---------------------------------------------------------------------

  /** `result` plus, per row of `failures`, a row that raises `message`
    * (a column over `failures`). The raise rides `result`'s first
    * column and the other columns are typed nulls (a non-nullable one
    * gets its type's default), so the union keeps `result`'s schema,
    * nullability included, and Catalyst cannot prune the proof away. */
  private def raiseOn(result: DataFrame, failures: DataFrame,
                      message: Column): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftkit.Bridge.column
    result.union(failures.select(result.schema.fields.zipWithIndex.map { case (f, i) =>
      val v = if (i == 0) raise_error(message).cast(f.dataType) else lit(null).cast(f.dataType)
      (if (f.nullable) v else coalesce(v, column(Literal.default(f.dataType)))).as(f.name)
    }.toSeq: _*))
  }

  /** Key-set certificate: `result`, unchanged, when its non-null `keys`
    * are exactly `expected`'s; otherwise the query raises, naming the
    * first (smallest) key that differs and its side. Null keys sit out
    * on both sides: ids outside dedup scope survive it by contract and
    * never match an equi-join, so they would raise spuriously. */
  private[graft] def certifyKeys(result: DataFrame, expected: DataFrame,
                                 keys: Seq[String], what: String): DataFrame = {
    def keySet(df: DataFrame) = df.select(keys.map(col): _*)
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
    val (got, want) = (keySet(result), keySet(expected))
    val diff = got.join(want, keys, "left_anti").withColumn("__side", lit("unexpected"))
      .union(want.join(got, keys, "left_anti").withColumn("__side", lit("missing")))
    val first = diff.agg(F.min(struct((keys :+ "__side").map(col): _*)).as("__d"))
      .filter(col("__d").isNotNull).select("__d.*")
    raiseOn(result, first, concat(lit(s"$what certificate failed: "), col("__side"),
      lit(" "), concat_ws(", ", keys.map(k => concat(lit(s"$k="), col(k).cast("string"))): _*)))
  }

  /** Threshold certificate: `result`, unchanged, when every named column
    * of the one-row `stats` frame reaches its floor; otherwise the
    * query raises, reporting each reading against its floor. */
  private[graft] def certifyFloors(result: DataFrame, stats: DataFrame, what: String,
                                   floors: (String, Double)*): DataFrame = {
    val readings = floors.flatMap { case (c, f) =>
      Seq(lit(s" $c="), coalesce(col(c).cast("string"), lit("null")),
        lit(s" (floor ${java.math.BigDecimal.valueOf(f).stripTrailingZeros.toPlainString})"))
    }
    raiseOn(result, stats.filter(!floors.map { case (c, f) => col(c) >= f }.reduce(_ && _)),
      concat(lit(s"$what certificate failed:") +: readings: _*))
  }

  /** The ten probe queries of the ANN entries. */
  private def annQueries(e: DataFrame): DataFrame = e.filter(col("vec_id") < 10)

  /** An ANN top-5 as the ANN entries emit it: long rank, cosine rounded
    * to 6 digits, then `extra` (the calibrated entries' evidence). */
  private def annRows(topK: DataFrame, extra: Column*): DataFrame =
    topK.select(Seq(col("query_id"), col("rank").cast("long").as("rank"), col("nn_id"),
      round(col("cos_sim"), 6).as("cos_sim")) ++ extra: _*)

  /** The ANN entries' recall certificate, sorted for output: the
    * neighbours overlap a brute-force top-5 over the same queries on at
    * least 35 of the 50 (query, nn) pairs, and a calibrated result's
    * emitted measured recall (taken over the overlapping rows) reaches
    * its 0.7 target, so the calibration cannot vouch for itself. */
  private def certifiedAnn(result: DataFrame, e: DataFrame, what: String): DataFrame = {
    val truth = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      annQueries(e), "vec_id", "embedding", k = 5).select(col("query_id"), col("nn_id"))
    val pairs = Seq("query_id", "nn_id")
    val calibrated = result.columns.contains("measured_recall")
    val stats =
      if (!calibrated) result.select(pairs.map(col): _*).join(truth, pairs)
        .agg(count(lit(1)).as("overlap"))
      else result.select(col("query_id"), col("nn_id"), col("measured_recall"))
        .join(truth, pairs, "left_semi")
        .agg(count(lit(1)).as("overlap"), F.min(col("measured_recall")).as("measured_recall"))
    val floors = ("overlap" -> 35.0) +: (if (calibrated) Seq("measured_recall" -> 0.7) else Nil)
    CrysFrame(certifyFloors(result, stats, what, floors: _*)).sortBy("query_id", "rank").out
  }

  /** Greedy min-id media dedup over a perceptual hash: every id that is
    * the larger end of a pair within `maxDist` goes. */
  private def mediaKeep(hashed: DataFrame, hashCol: String, maxDist: Int): DataFrame = {
    val dups = Dedup.hammingPairs(hashed, "media_id", hashCol, maxDist = maxDist)
      .select(col("id_b").as("media_id")).distinct()
    hashed.join(dups, Seq("media_id"), "left_anti").select(col("media_id"))
  }

  /** q_video_dedup's scenario: the image stills of `syntheticMedia(90)`
    * (ids < 20000) and the frames sampled back out of their single-frame
    * MJPEG wraps (ids +20000), perceptual-hashed, unhashable rows out. */
  private def videoHashed(s: SparkSession): DataFrame = {
    val imgs = Multimodal.syntheticMedia(s, 90).filter(col("kind") === "image")
    val wrapped = Multimodal.wrapAsMjpegAvi(imgs)
      .filter(col("avi").isNotNull)
      .select((col("media_id") + 20000L).as("media_id"), col("avi").as("content"))
    val frames = Multimodal.sampleVideoFrames(wrapped)
      .select(col("media_id"), col("content"))
    val stills = imgs.select(col("media_id"), col("content"))
    Multimodal.withPerceptualHash(stills.unionByName(frames))
      .filter(col("phash").isNotNull)
  }

  /** The incremental-ingest split of documents: (odd ids, the new
    * batch; even ids, the standing corpus). */
  private def ingestHalves(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = t(s, d, "documents")
    (docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      docs.filter(pmod(col("doc_id"), lit(2)) === 0))
  }

  /** The bare operator call of each certified query whose bench entry
    * times that same call. The entry in [[queries]] wraps this frame
    * with its certificate and its sort; Bench and PlanDump time and
    * print it directly, so the call the certificate vouches for and
    * the call Bench times are one declaration. */
  val operators: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashDedup(t(s, d, "documents"), "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.7, shingleSize = 4)
        .select("doc_id")),
    // maxDist = 3: the 4-block pigeonhole scheme's guaranteed-recall
    // bound (larger distances would silently under-recall)
    "q_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxDist = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))),
    "q_dedup_against_near" -> ((s, d) => {
      val (batch, corpus) = ingestHalves(s, d)
      Dedup.dedupAgainstNear(batch, corpus, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.7, shingleSize = 4)
        .select("doc_id")
    }),
    "q_ann_pq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      annRows(graft.ml.Pq.ivfPqTopK(e, "vec_id", "embedding",
        annQueries(e), "vec_id", "embedding", k = 5, m = 16, pqK = 64,
        nLists = 16, nProbe = 8, iters = 1, rerank = 50))
    }),
    "q_ann_ivf_cal" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      annRows(Similarity.ivfTopKCalibrated(e, "vec_id", "embedding",
          annQueries(e), "vec_id", "embedding", k = 5, targetRecall = 0.7,
          nLists = 16),
        round(col("measured_recall"), 6).as("measured_recall"),
        col("calibrated_nprobe").cast("long").as("calibrated_nprobe"))
    }),
    "q_ann_pq_cal" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      annRows(graft.ml.Pq.ivfPqTopKCalibrated(e, "vec_id", "embedding",
          annQueries(e), "vec_id", "embedding", k = 5, targetRecall = 0.7,
          m = 16, pqK = 64, nLists = 16, iters = 1),
        round(col("measured_recall"), 6).as("measured_recall"),
        col("calibrated_nprobe").cast("long").as("calibrated_nprobe"),
        col("calibrated_rerank").cast("long").as("calibrated_rerank"))
    }),
    "q_video_dedup" -> ((s, _) => mediaKeep(videoHashed(s), "phash", maxDist = 0)))

  /** Exact money aggregation: per-term decimal cast, exact decimal sum,
    * final scale-2 decimal. The final scale is the SOURCE scale (money
    * values are 2-decimal), not the working scale: the scaled integer a
    * decimal→double conversion sees is 10⁴× smaller at scale 2 than at
    * scale 6, keeping it under 2^53 (where every engine's conversion is
    * exactly the same correctly-rounded double) up to ~10¹³ money sums. */
  private def moneySum(c: Column): Column =
    F.sum(c.cast("decimal(18,6)")).cast("decimal(28,2)")

  /** Exact decimal(12,2) view of a double column whose values are exact
    * 2-decimal numbers (every money/measure column in the test tables).
    * Casting the OPERAND is unambiguous — the stored double sits ~1e-12
    * from the true 2-decimal value, nowhere near a rounding tie.
    * Casting a double PRODUCT is NOT: Spark converts via the shortest
    * decimal representation + HALF_UP while DuckDB scales-and-rounds the
    * raw double, and ties at the product's scale land differently. */
  private def dec2(c: Column): Column = c.cast("decimal(12,2)")

  /** `price * (1 - discount)` in exact decimal arithmetic — the product
    * is an exact decimal(·,4) in both engines, so no double→decimal
    * rounding ever happens on a computed value. */
  private def discounted(price: Column, discount: Column): Column =
    dec2(price) * (lit(1).cast("decimal(12,2)") - dec2(discount))

  /** Sum of an exact decimal(·,4) product (see [[discounted]]). */
  private def moneySum4(c: Column): Column = F.sum(c).cast("decimal(28,4)")

  /** `Σ price*(1-discount)` exactly, at aggregate speed: the per-row
    * product is computed in LONG ten-thousandths (exact — both operands
    * are 2-decimal values; Spark's decimal multiply always routes
    * through BigDecimal and costs ~2× more), then ACCUMULATED as
    * decimal so no corpus size can overflow the sum, and rescaled to
    * decimal(28,4) — the identical value [[discounted]]+[[moneySum4]]
    * produce, measured ~20% faster end-to-end on the money queries. */
  private def discountedSum4(price: Column, discount: Column): Column =
    (F.sum((F.round(price * 100).cast("long") *
      (lit(100L) - F.round(discount * 100).cast("long"))).cast("decimal(20,0)"))
      .cast("decimal(28,0)") / 10000).cast("decimal(28,4)")

  /** Cross-engine-deterministic mean: exact decimal sum, ONE double
    * division — no float association order to disagree on. */
  private def exactAvg(c: Column, digits: Int = 6): Column =
    round(F.sum(c.cast("decimal(18,6)")).cast("double") / F.count(c), digits)

  /** Flagship query (SURVEY §7.3) on sf=0.001; driver smoke-checks rows>0:
    * group → summarize (null-skipping mean) → filter → sort. */
  def entry(spark: SparkSession): DataFrame =
    cf(spark, "/root/testdata/sf0.001", "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .summarize(
        "n" -> (_ => Agg.n),
        "mean_qty" -> (_ => round(Agg.mean(col("l_quantity"), removeNa = true), 6)),
        "revenue" -> (_ => discountedSum4(col("l_extendedprice"), col("l_discount"))))
      .filter(c => c("n") > 10)
      .sortBy("l_returnflag", "l_linestatus")
      .out

  // =====================================================================
  // queries — name -> (spark, sfDir) => DataFrame
  // =====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------- §2.2 projection / column ops ----------------
    "q_select" -> ((s, d) =>
      cf(s, d, "lineitem")
        .select(sel.listOf("l_orderkey", "l_linenumber").or(sel.startsWith("l_return")))
        .sortBy("l_orderkey", "l_linenumber").out),

    "q_reject" -> ((s, d) =>
      cf(s, d, "nation").reject("n_regionkey").sortBy("n_nationkey").out),

    "q_rename" -> ((s, d) =>
      cf(s, d, "nation")
        .rename("n_nationkey" -> "id", "n_name" -> "name")
        .select("id", "name").sortBy("id").out),

    "q_move" -> ((s, d) =>
      cf(s, d, "nation").moveLeft("n_name").moveRight("n_regionkey")
        .sortBy("n_nationkey").out),

    "q_mutate" -> ((s, d) =>
      cf(s, d, "lineitem")
        .addColumn("revenue")(_ =>
          discounted(col("l_extendedprice"), col("l_discount")).cast("double"))
        .addColumn("bulk")(c => c.where(col("l_quantity") >= 25, lit("bulk"), lit("small")))
        .select("l_orderkey", "l_linenumber", "revenue", "bulk")
        .sortBy("l_orderkey", "l_linenumber").out),

    "q_transmute" -> ((s, d) =>
      cf(s, d, "part").transmute(
        "p_partkey" -> (_ => col("p_partkey")),
        "price_band" -> (c => c.where(col("p_retailprice") >= 1500.0, c.const("high"), c.const("low"))))
        .sortBy("p_partkey").out),

    "q_add_row_number" -> ((s, d) =>
      cf(s, d, "supplier").sortBy("s_suppkey").addRowNumber("rn")
        .addColumn("rn")(_ => col("rn").cast("long"))
        .select("rn", "s_suppkey", "s_name").sortBy("s_suppkey").out),

    // ---------------- §2.3 filters / row subsetting ----------------
    "q_filter" -> ((s, d) =>
      cf(s, d, "lineitem")
        .filter(_ => col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .sortBy("l_orderkey", "l_linenumber").out),

    "q_filter_expr" -> ((s, d) =>
      cf(s, d, "customer")
        .filter(c => c.matching(col("c_name"), "11") && c.isNotNa(col("c_acctbal"))
          && col("c_acctbal") > c.const(1000.0))
        .select("c_custkey", "c_name", "c_acctbal").sortBy("c_custkey").out),

    "q_slice" -> ((s, d) =>
      cf(s, d, "lineitem").sortBy("l_orderkey", "l_linenumber").slice(1 to 100)
        .select("l_orderkey", "l_linenumber", "l_quantity").out),

    "q_take_last" -> ((s, d) =>
      cf(s, d, "orders").sortBy("o_orderkey").takeLast(50)
        .select("o_orderkey", "o_totalprice").sortBy("o_orderkey").out),

    "q_distinct" -> ((s, d) =>
      cf(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct()
        .sortBy("l_returnflag", "l_linestatus").out),

    // sampled VALUES have no cross-engine oracle (engine RNGs differ),
    // but the INVARIANTS do: per-group exact-n cardinality, no
    // duplicates (countDistinct == count), and subset-of-source (the
    // semi join back to customer drops any row not present there)
    "q_sample" -> ((s, d) => {
      val src = cf(s, d, "customer")
      src.groupBy("c_mktsegment").sampleN(20, seed = 42)
        .semiJoin(src.select("c_custkey"), by = Seq("c_custkey"))
        .groupBy("c_mktsegment")
        .summarize(
          "n_sampled" -> (_ => Agg.n),
          "n_ids" -> (_ => countDistinct(col("c_custkey"))))
        .sortBy("c_mktsegment").out
    }),

    // exact-fraction sampling invariant: per-group cardinality is
    // round(frac x group size) by construction — fully oracle-checkable
    // even though the sampled VALUES are engine-RNG-specific
    "q_sample_frac" -> ((s, d) =>
      cf(s, d, "customer").groupBy("c_mktsegment").sampleFrac(0.3, seed = 7)
        .ungroup.count("c_mktsegment")
        .sortBy("c_mktsegment").out),

    // ---------------- §2.4 sorting ----------------
    "q_sort" -> ((s, d) =>
      cf(s, d, "nation").sortDescBy("n_name").out),

    "q_sort_expr" -> ((s, d) =>
      cf(s, d, "part")
        .sortByExpr(_ => col("p_retailprice") * (lit(100) - col("p_size")),
          _ => col("p_partkey"))
        .select("p_partkey", "p_size", "p_retailprice").out),

    // ---------------- §2.5 grouping & aggregation ----------------
    "q1_agg" -> ((s, d) =>
      cf(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .summarize(
          "sum_qty" -> (_ => F.sum(col("l_quantity"))),
          // exact decimal accumulation, ONE final correctly-rounded
          // conversion to double — decimal-typed OUTPUT is the only thing
          // the driver's hasher canonicalizes differently across engines
          "sum_base_price" -> (_ => moneySum(col("l_extendedprice")).cast("double")),
          "sum_disc_price" -> (_ =>
            discountedSum4(col("l_extendedprice"), col("l_discount")).cast("double")),
          "avg_qty" -> (_ => exactAvg(col("l_quantity"))),
          "avg_price" -> (_ => exactAvg(col("l_extendedprice"))),
          "n" -> (_ => Agg.n))
        .sortBy("l_returnflag", "l_linestatus").out),

    "q_count" -> ((s, d) =>
      cf(s, d, "lineitem").count("l_returnflag").sortBy("l_returnflag").out),

    "q_count_expr" -> ((s, d) =>
      cf(s, d, "orders")
        .groupByExpr(_ => year(col("o_orderdate")).cast("int"))
        .count().sortBy("group_by_1").out),

    "q_summarize_at" -> ((s, d) =>
      cf(s, d, "lineitem").groupBy("l_returnflag")
        .summarizeAt(sel.listOf("l_quantity", "l_discount"),
          "mean" -> (c => exactAvg(c)),
          "sd" -> (c => round(stddev_samp(c), 6)))
        .sortBy("l_returnflag").out),

    "q_agg_funcs" -> ((s, d) =>
      cf(s, d, "lineitem").groupBy("l_linestatus")
        .summarize(
          "min_q" -> (_ => Agg.min(col("l_quantity"), removeNa = true)),
          "max_q" -> (_ => Agg.max(col("l_quantity"), removeNa = true)),
          "mean_q" -> (_ => exactAvg(col("l_quantity"))),
          "median_q" -> (_ => round(Agg.medianExact(col("l_quantity"), removeNa = true), 6)),
          "sd_q" -> (_ => round(Agg.sd(col("l_quantity"), removeNa = true), 6)),
          "var_q" -> (_ => round(Agg.sv(col("l_quantity"), removeNa = true), 6)),
          "na_q" -> (_ => Agg.na(col("l_quantity"))))
        .sortBy("l_linestatus").out),

    // exact interpolating percentiles at arbitrary p (the median
    // generalization, SQL percentile_cont ≡ DuckDB quantile_cont);
    // rounded to 6dp like median_q so the interpolation arithmetic
    // stays bit-stable across engines
    "q_percentile" -> ((s, d) =>
      cf(s, d, "lineitem").groupBy("l_returnflag")
        .summarize(
          "p10" -> (_ => round(Agg.percentile(col("l_extendedprice"), 0.10, removeNa = true), 6)),
          "p25" -> (_ => round(Agg.percentile(col("l_extendedprice"), 0.25, removeNa = true), 6)),
          "p90" -> (_ => round(Agg.percentile(col("l_extendedprice"), 0.90, removeNa = true), 6)),
          "p99" -> (_ => round(Agg.percentile(col("l_extendedprice"), 0.99, removeNa = true), 6)))
        .sortBy("l_returnflag").out),

    "q_cube" -> ((s, d) =>
      cf(s, d, "lineitem")
        .summarizeCube(Seq("l_returnflag", "l_linestatus"),
          "n" -> (_ => Agg.n),
          "sum_qty" -> (_ => F.sum(col("l_quantity"))))
        .sortBy("l_returnflag", "l_linestatus").out),

    "q_rollup" -> ((s, d) =>
      cf(s, d, "orders")
        .summarizeRollup(Seq("o_orderstatus", "o_orderpriority"),
          "n" -> (_ => Agg.n))
        .sortBy("o_orderstatus", "o_orderpriority").out),

    "q_count_distinct" -> ((s, d) =>
      cf(s, d, "lineitem").groupBy("l_returnflag")
        .summarize(
          "n_orders" -> (_ => countDistinct(col("l_orderkey"))),
          "n_parts" -> (_ => countDistinct(col("l_partkey"))))
        .sortBy("l_returnflag").out),

    "q_rolling" -> ((s, d) =>
      cf(s, d, "events").filter(_ => col("user_id") < 20)
        .groupBy("user_id").sortBy("ts", "event_id")
        .addColumns(
          "roll_sum" -> (c => round(c.rollingSum(col("value"), 3), 4)),
          "roll_max" -> (c => c.rollingMax(col("value"), 3)))
        .select("event_id", "user_id", "roll_sum", "roll_max")
        .ungroup.sortBy("event_id").out),

    "q_grouped_keys" -> ((s, d) =>
      cf(s, d, "orders").groupBy("o_orderstatus", "o_orderpriority").groupedKeys
        .sortBy("o_orderstatus", "o_orderpriority").out),

    // ---------------- §2.6 window / vector functions ----------------
    "q_lead_lag" -> ((s, d) =>
      cf(s, d, "events").filter(_ => col("user_id") < 50)
        .groupBy("user_id").sortBy("ts", "event_id")
        .addColumns(
          "prev_value" -> (c => c.lag(col("value"))),
          "next_value" -> (c => c.lead(col("value"))),
          "prev2" -> (c => c.lag(col("value"), 2, -1.0)))
        .select("event_id", "user_id", "value", "prev_value", "next_value", "prev2")
        .ungroup.sortBy("event_id").out),

    "q_cumsum" -> ((s, d) =>
      cf(s, d, "events").filter(_ => col("user_id") < 50)
        .groupBy("user_id").sortBy("ts", "event_id")
        .addColumn("running")(c => round(c.cumsum(col("value")), 4))
        .select("event_id", "user_id", "running")
        .ungroup.sortBy("event_id").out),

    "q_pct_change" -> ((s, d) =>
      cf(s, d, "events").filter(_ => col("user_id") < 50)
        .groupBy("user_id").sortBy("ts", "event_id")
        .addColumn("chg")(c => round(c.pctChange(col("value")), 6))
        .select("event_id", "user_id", "chg")
        .ungroup.sortBy("event_id").out),

    "q_rank" -> ((s, d) =>
      cf(s, d, "customer")
        .groupBy("c_mktsegment")
        .addColumn("bal_rank")(c => c.rank(col("c_acctbal").desc).cast("int"))
        .select("c_custkey", "c_mktsegment", "bal_rank")
        .ungroup.sortBy("c_custkey").out),

    "q_row_number_grouped" -> ((s, d) =>
      cf(s, d, "events").filter(_ => col("user_id") < 50)
        .groupBy("user_id").sortBy("ts", "event_id")
        .addColumn("rn")(c => c.rowNumber.cast("long"))
        .select("event_id", "user_id", "rn")
        .ungroup.sortBy("event_id").out),

    // UNGROUPED (global) window verbs — the scale-safe
    // core.GlobalWindows path (range sort + zipWithIndex ordinals,
    // two-level prefix scans, shift joins, distinct-key rank): every
    // helper oracle-checked against DuckDB's partition-less windows.
    // Decimal accumulation for the running/rolling sums (exact in
    // both engines regardless of combine order), final double cast.
    "q_window_global" -> ((s, d) =>
      cf(s, d, "events").filter(_ => col("user_id") < 30)
        .sortBy("ts", "event_id")
        .addColumns(
          "running" -> (c =>
            c.cumsum(col("value").cast("decimal(18,6)")).cast("double")),
          "prev_value" -> (c => c.lag(col("value"))),
          "next2" -> (c => c.lead(col("value"), 2, -1.0)),
          "rn" -> (c => c.rowNumber.cast("long")),
          "roll3" -> (c =>
            c.rollingSum(col("value").cast("decimal(18,6)"), 3).cast("double")),
          "rk" -> (c => c.rank(col("value").desc).cast("long")))
        .select("event_id", "running", "prev_value", "next2", "rn", "roll3", "rk")
        .sortBy("event_id").out),

    // ---------------- §2.7 joins ----------------
    "q_join_inner" -> ((s, d) => {
      val li = cf(s, d, "lineitem")
      val o = cf(s, d, "orders")
      val c = cf(s, d, "customer")
      val n = cf(s, d, "nation")
      li.innerJoin(o, byPairs = Seq("l_orderkey" -> "o_orderkey"))
        .innerJoin(c, byPairs = Seq("o_custkey" -> "c_custkey"))
        .innerJoin(n, byPairs = Seq("c_nationkey" -> "n_nationkey"))
        .groupBy("n_name")
        .summarize(
          "revenue" -> (_ =>
            discountedSum4(col("l_extendedprice"), col("l_discount")).cast("double")),
          "n" -> (_ => Agg.n))
        .sortBy("n_name").out
    }),

    "q_join_left" -> ((s, d) =>
      cf(s, d, "customer")
        .leftJoin(cf(s, d, "orders"), byPairs = Seq("c_custkey" -> "o_custkey"))
        .groupBy("c_custkey")
        .summarize("n_orders" -> (_ => F.count(col("o_orderkey"))))
        .sortBy("c_custkey").out),

    "q_join_right" -> ((s, d) =>
      cf(s, d, "orders").select("o_orderkey", "o_custkey")
        .rightJoin(cf(s, d, "customer").select("c_custkey", "c_name"),
          byPairs = Seq("o_custkey" -> "c_custkey"))
        .groupBy("o_custkey")
        .summarize("n_orders" -> (_ => F.count(col("o_orderkey"))))
        .sortBy("o_custkey").out),

    "q_join_outer" -> ((s, d) => {
      val a = cf(s, d, "orders").groupBy("o_custkey")
        .summarize("n_orders" -> (_ => Agg.n))
        .rename("o_custkey" -> "custkey")
      val b = cf(s, d, "customer").filter(_ => col("c_acctbal") < 0)
        .transmute("custkey" -> (_ => col("c_custkey")), "c_acctbal" -> (_ => col("c_acctbal")))
      a.outerJoin(b, by = Seq("custkey")).sortBy("custkey").out
    }),

    "q_join_semi" -> ((s, d) =>
      cf(s, d, "customer")
        .semiJoin(cf(s, d, "orders").rename("o_custkey" -> "c_custkey"), by = Seq("c_custkey"))
        .select("c_custkey", "c_name").sortBy("c_custkey").out),

    "q_join_anti" -> ((s, d) =>
      cf(s, d, "customer")
        .antiJoin(cf(s, d, "orders").rename("o_custkey" -> "c_custkey"), by = Seq("c_custkey"))
        .select("c_custkey", "c_name").sortBy("c_custkey").out),

    "q_join_unequal" -> ((s, d) =>
      cf(s, d, "supplier")
        .innerJoin(cf(s, d, "nation"), byPairs = Seq("s_nationkey" -> "n_nationkey"))
        .select("s_suppkey", "s_name", "n_name").sortBy("s_suppkey").out),

    "q_join_cross" -> ((s, d) =>
      cf(s, d, "region").select("r_name")
        .crossJoin(cf(s, d, "nation").select("n_name"))
        .sortBy("r_name", "n_name").out),

    "q_join_suffixes" -> ((s, d) => {
      // common non-key column c_acctbal suffixed .x/.y (reference: joins.cr:149-166)
      val a = cf(s, d, "customer").select("c_custkey", "c_acctbal")
      val b = cf(s, d, "customer").select("c_custkey", "c_acctbal")
      a.innerJoin(b, by = Seq("c_custkey"))
        .filter(_ => col("c_custkey") < 100)
        .sortBy("c_custkey").out
    }),

    // ---------------- §2.8 set ops / binding ----------------
    "q_bind_rows" -> ((s, d) => {
      val a = cf(s, d, "customer").transmute(
        "id" -> (_ => col("c_custkey")), "name" -> (_ => col("c_name")),
        "acctbal" -> (_ => col("c_acctbal")), "side" -> (c => c.const("cust")))
      val b = cf(s, d, "supplier").transmute(
        "id" -> (_ => col("s_suppkey")), "name" -> (_ => col("s_name")),
        "side" -> (c => c.const("supp")))
      a.bindRows(b).sortBy("side", "id").out
    }),

    "q_bind_cols" -> ((s, d) => {
      val a = cf(s, d, "customer").select("c_custkey", "c_name").sortBy("c_custkey")
      val b = cf(s, d, "customer").select("c_acctbal", "c_custkey").sortBy("c_acctbal", "c_custkey")
      a.bindCols(b).sortBy("c_custkey").out
    }),

    "q_intersect" -> ((s, d) =>
      CrysFrame(cf(s, d, "orders").select("o_custkey").out
        .intersect(cf(s, d, "customer").transmute("o_custkey" -> (_ => col("c_custkey"))).out))
        .sortBy("o_custkey").out),

    "q_except" -> ((s, d) =>
      CrysFrame(cf(s, d, "customer").transmute("c_custkey" -> (_ => col("c_custkey"))).out
        .except(cf(s, d, "orders").transmute("c_custkey" -> (_ => col("o_custkey"))).out))
        .sortBy("c_custkey").out),

    // ---------------- §2.9 reshape ----------------
    "q_spread" -> ((s, d) =>
      cf(s, d, "orders")
        .count("o_orderstatus", "o_orderpriority")
        .spread("o_orderpriority", "n")
        .sortBy("o_orderstatus").out),

    // spread with a fill value: one (status, priority) cell is filtered
    // out STRUCTURALLY so the fill engages deterministically at any SF
    "q_spread_fill" -> ((s, d) =>
      cf(s, d, "orders")
        .filter(_ => !(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT"))
        .count("o_orderstatus", "o_orderpriority")
        .spread("o_orderpriority", "n", fill = 0L)
        .sortBy("o_orderstatus").out),

    "q_gather" -> ((s, d) =>
      cf(s, d, "part").select("p_partkey", "p_size", "p_retailprice")
        .gather("key", "value", sel.listOf("p_size", "p_retailprice"))
        .sortBy("p_partkey", "key").out),

    "q_separate" -> ((s, d) =>
      cf(s, d, "customer").select("c_custkey", "c_name")
        .separate("c_name", Seq("cust_prefix", "cust_num"), sep = "#")
        .sortBy("c_custkey").out),

    "q_unite" -> ((s, d) =>
      cf(s, d, "nation")
        .unite("nation_region", sel.listOf("n_name", "n_regionkey"), sep = "_")
        .sortBy("n_nationkey").out),

    "q_nest_unnest" -> ((s, d) =>
      cf(s, d, "nation")
        .nest(sel.listOf("n_nationkey", "n_name"), packedName = "data")
        .unnest("data")
        .sortBy("n_nationkey").out),

    "q_unnest_array" -> ((s, d) =>
      CrysFrame(t(s, d, "embeddings").filter(col("vec_id") < 100)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "val"))))
        .sortBy("vec_id", "pos").out),

    "q_expand" -> ((s, d) =>
      cf(s, d, "lineitem").expand("l_returnflag", "l_linestatus").out),

    "q_complete" -> ((s, d) =>
      cf(s, d, "lineitem")
        .count("l_returnflag", "l_linestatus")
        .complete("l_returnflag", "l_linestatus")
        .sortBy("l_returnflag", "l_linestatus").out),

    // ---------------- §2.1 sources / sinks ----------------
    "q_csv_roundtrip" -> ((s, d) => {
      val path = s"/tmp/graft_csv_${d.replaceAll("[^a-zA-Z0-9]", "_")}/nation"
      cf(s, d, "nation").writeCsv(path)
      Readers.readCsv(s, path).sortBy("n_nationkey").out
    }),

    "q_json_roundtrip" -> ((s, d) => {
      val path = s"/tmp/graft_json_${d.replaceAll("[^a-zA-Z0-9]", "_")}/nation"
      cf(s, d, "nation").out.write.mode("overwrite").json(path)
      Readers.readJson(s, path, multiLine = false)
        .select("n_nationkey", "n_name", "n_regionkey").sortBy("n_nationkey").out
    }),

    // WARC crawl ingest e2e (sources.Warc): deterministic crawl
    // segments are written from the documents table (one per
    // partition plus a robots.txt segment — ISO 28500 framing via
    // Warc.fixtureRecord), then the REAL pipeline runs: readWarc →
    // htmlResponses (status/content-type gate, declared-charset
    // decode) → robots gate from the crawl's OWN robots.txt →
    // noindex drop → stripHtml + canonicalizeUrl. Url classes by
    // doc_id % 4:
    //   0 → /private/<id>      robots-blocked (Disallow: /private/)
    //   1 → /private/pub/<id>  kept — the LONGER Allow outranks it
    //   2 → upper-case host, :80, utm + fragment — kept, canon work
    //   3 → <meta robots noindex> page — dropped by dropNoindex
    // Request/404/image records salt every segment and must vanish at
    // htmlResponses. The oracle rebuilds the kept classes in SQL: the
    // canonical-url literals + q_strip_html's strip-chain mirror.
    "q_warc_ingest" -> ((s, d) => {
      val dir = s"/tmp/graft_warc_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(dir), s.sparkContext.hadoopConfiguration)
      val root = new org.apache.hadoop.fs.Path(dir)
      fs.delete(root, true); fs.mkdirs(root)
      val robots = "User-agent: *\nDisallow: /private/\nAllow: /private/pub\n"
      val ro = fs.create(new org.apache.hadoop.fs.Path(s"$dir/robots.warc"), true)
      ro.write(Warc.fixtureRecord("response", "http://example.com/robots.txt",
        Warc.fixtureHttp(robots.getBytes("UTF-8"), ct = "text/plain")))
      ro.close()
      // segment writer runs ON THE EXECUTORS (one file per partition,
      // content deterministic by repartition key + in-partition sort,
      // so a task retry rewrites identical bytes)
      t(s, d, "documents").filter(pmod(col("doc_id"), lit(5)) === 0)
        .select("doc_id", "lang", "text")
        .repartition(4, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          if (it.hasNext) {
            val out = new java.io.ByteArrayOutputStream()
            // noise the pipeline must drop: request record, 404, non-html
            out.write(Warc.fixtureRecord("request", "http://example.com/a",
              "GET /a HTTP/1.1\r\n\r\n".getBytes("ISO-8859-1")))
            out.write(Warc.fixtureRecord("response", "http://example.com/gone",
              Warc.fixtureHttp("gone".getBytes("UTF-8"), status = 404)))
            out.write(Warc.fixtureRecord("response", "http://example.com/img",
              Warc.fixtureHttp(Array[Byte](1, 2, 3), ct = "image/png")))
            it.foreach { r =>
              val id = r.getLong(0)
              val uri = (id % 4) match {
                case 0 => s"http://example.com/private/$id"
                case 1 => s"http://example.com/private/pub/$id"
                case 2 => s"HTTP://Example.COM:80/Docs/$id?utm_source=feed&id=$id#sec"
                case _ => s"http://example.com/meta/$id"
              }
              val html =
                if (id % 4 == 3)
                  "<html><head><meta name=\"robots\" content=\"noindex\"></head>" +
                    "<body>secret</body></html>"
                else // the q_strip_html wrapper VERBATIM (shared oracle mirror)
                  "<html><head><title>d</title><style type=\"text/css\">p { color: #333; }" +
                    "</style></head><body><h1 class=\"hd\">" + r.getString(1) +
                    "</h1><!-- note --><p>" + r.getString(2) +
                    "</p><script>if (1 &lt; 2) { x = 1; }</script>" +
                    "<div>tail &amp;amp; &quot;q&quot;&nbsp;&#39;e&#39; &amp; &lt;b&gt;</div>" +
                    "</body></html>"
              out.write(Warc.fixtureRecord("response", uri,
                Warc.fixtureHttp(html.getBytes("UTF-8"))))
            }
            val pfs = org.apache.hadoop.fs.FileSystem.get(
              java.net.URI.create(dir), new org.apache.hadoop.conf.Configuration())
            val f = pfs.create(new org.apache.hadoop.fs.Path(
              f"$dir/part-${org.apache.spark.TaskContext.getPartitionId()}%05d.warc"), true)
            f.write(out.toByteArray); f.close()
          }
        }
      val warc = Warc.readWarc(s, s"$dir/*.warc")
      val pages = Warc.htmlResponses(warc)
      val gated = Warc.dropNoindex(
        Warc.filterRobotsAllowed(pages, "url", Warc.robotsRules(warc)), "html")
      CrysFrame(gated.select(
          TextFunctions.canonicalizeUrl(col("url")).as("url_canon"),
          TextFunctions.stripHtml(col("html")).as("text_plain"))
        .withColumn("n_plain", length(col("text_plain")).cast("long")))
        .sortBy("url_canon").out
    }),

    // ---------------- extensions: as-of / windows over time ----------------
    "q_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      CrysFrame(AsOfJoin.join(
        ev.filter(col("user_id") < 100)
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        purchases.filter(col("user_id") < 100),
        partitionBy = Seq("user_id"), tsCol = "ts",
        payload = Seq("value" -> "last_purchase_value")))
        .select("event_id", "user_id", "value", "last_purchase_value")
        .sortBy("event_id").out
    }),

    // hour emitted as epoch SECONDS (long): no query should ship a
    // timestamp or decimal to the driver's hasher — the exact decimal
    // sum takes one final correctly-rounded double conversion instead
    "q_time_window" -> ((s, d) =>
      CrysFrame(t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).cast("long").as("hour"), col("event_type"))
        .agg(F.count(lit(1)).as("n"),
          F.sum(dec2(col("value"))).cast("decimal(28,2)").cast("double").as("sum_value")))
        .sortBy("hour", "event_type").out),

    // HOPPING event-time windows (native `window(ts, 1h, 15m)` — the
    // sliding-aggregation shape streaming dashboards use, declared so
    // Catalyst plans the 4-window explode itself); decimal-exact sums
    // like q_time_window. The oracle derives each event's 4 candidate
    // window starts arithmetically
    "q_hopping_window" -> ((s, d) =>
      CrysFrame(t(s, d, "events")
        .filter(col("ts").isNotNull)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(F.count(lit(1)).as("n"),
          F.sum(dec2(col("value"))).cast("decimal(28,2)").cast("double").as("sum_value"))
        .select(col("window.start").cast("long").as("win_start"), col("event_type"),
          col("n"), col("sum_value")))
        .sortBy("win_start", "event_type").out),

    // corpus DATASHEET (text.Datasheet): the publishable one-row
    // profile (size, exact length percentiles, normalized dup rate) —
    // every number cross-engine exact, so the sheet regenerates
    // identically anywhere. Plus the per-language breakdown
    "q_datasheet" -> ((s, d) =>
      CrysFrame(graft.text.Datasheet.describe(t(s, d, "documents"), "text")).out),

    "q_datasheet_lang" -> ((s, d) =>
      CrysFrame(graft.text.Datasheet.byLang(t(s, d, "documents"), "text", "lang"))
        .sortBy("lang").out),

    // corpus snapshot DIFF (operators.SnapshotDiff): what a simulated
    // next ingest cycle added / removed / changed — both sides reduce
    // to (id, 8-byte hash) before the full-outer join, document text
    // never shuffles, unchanged rows (the bulk) drop right after the
    // join. The oracle compares the TEXT itself, so green doubles as
    // a hash-collision check
    "q_snapshot_diff" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val newC = docs.filter(col("doc_id") % 17 =!= 3)
        .withColumn("text", when(col("doc_id") % 11 === 5,
          concat(col("text"), lit(" [edited]"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      CrysFrame(graft.operators.SnapshotDiff.diff(docs, newC, "doc_id", "text"))
        .sortBy("doc_id").out
    }),

    // ONE-PASS pipeline accounting (operators.Audit): three gates run
    // as a single noop-write job; every (rows_in, rows_out) pair is an
    // Observation riding that job — the naive audit would re-scan the
    // chain once per gate. The RESULT is the metrics table itself, so
    // the oracle recomputes the same counts from plain SQL gates
    "q_pipeline_audit" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val audit = new graft.operators.Audit.Pipeline()
      val g1 = audit.gate(docs, "g1_chars", col("n_chars") >= 200)
      val g2 = audit.gate(g1, "g2_english", col("lang") === "en")
      val g3 = audit.gate(g2, "g3_tokens",
        TextFunctions.tokenCountWs(col("text")) >= 30)
      CrysFrame(audit.reportFrame(s,
          g3.write.format("noop").mode("overwrite").save()))
        .sortBy("gate").out
    }),

    // bounded top-k ROWS per group (ml.TopK.rowsPerGroup): the best 5
    // events per type by value, via per-task ≤k buffers + a semi-join
    // back — no group is ever sorted whole (the window formulation
    // exchanges and sorts the full input). Ties break to the lower id,
    // so the picked SET is engine-reproducible
    "q_topk_rows" -> ((s, d) =>
      CrysFrame(graft.ml.TopK.rowsPerGroup(
          t(s, d, "events").select(col("event_id"), col("event_type"), col("value")),
          Seq("event_type"), "event_id", "value", k = 5)
        .select(col("event_type"), col("event_id"), col("value")))
        .sortBy("event_type", "event_id").out),

    // batch gap sessionization (operators.Sessionize): integer-micros
    // gap arithmetic + decimal-exact value sums keep every column
    // hash-stable against the SQL lag→flag→running-sum oracle;
    // event_id tiebreak makes equal-ts lag order engine-independent
    "q_sessionize" -> ((s, d) =>
      CrysFrame(graft.operators.Sessionize.sessionStats(
        t(s, d, "events").filter(col("ts").isNotNull),
        keyCols = Seq("user_id"), tsCol = "ts", gapMs = 30L * 60 * 1000,
        valueCol = "value", tieBreak = Seq("event_id")))
        .sortBy("user_id", "session_index").out),

    // approximate distinct counting (HLL++), the cardinality tool that
    // replaces exact count-distinct at 100 TB (mergeable sketch, fixed
    // memory, no expand). The emitted count is the EXACT one (oracle-
    // hashable); the sketch estimate is proven in-band IN the output
    // column itself — when it strays past 5x the configured rsd,
    // raise_error fires instead of a row, and because the check wraps
    // the kept column Catalyst cannot prune it away
    "q_approx_distinct" -> ((s, d) => {
      val rsd = 0.02
      val agg = t(s, d, "documents").groupBy(col("lang"))
        .agg(F.countDistinct(col("text")).as("__exact"),
          F.approx_count_distinct(col("text"), rsd).as("__approx"))
      CrysFrame(agg.select(col("lang"),
        when(F.abs(col("__approx") - col("__exact")).cast("double") >
            F.greatest(lit(5.0), col("__exact") * (5 * rsd)),
          F.raise_error(concat(lit("approx_count_distinct out of band: lang="),
            col("lang"), lit(" exact="), col("__exact").cast("string"),
            lit(" approx="), col("__approx").cast("string"))).cast("long"))
          .otherwise(col("__exact")).as("n_distinct")))
        .sortBy("lang").out
    }),

    // image near-dup dedup: perceptual dHash over the REAL decoders
    // (multimodal) fed through the SAME pigeonhole Hamming blocking as
    // text SimHash (ml.Dedup.hammingPairs). Harness scenario: every
    // synthetic image "ingested twice" (resampled to a common size,
    // second copy id-offset) — distance-0 pairs tie each copy to its
    // original and greedy min-id keeps the originals. Rows-only by
    // design (no SQL oracle can decode images); dHash correctness is
    // spec-pinned (format-independence, resample tolerance, refusals).
    // r10: IN-BAND planted-dup certificate (q_ann_ivf skeleton) — the
    // planted pairs are known at query-build time (every original ×
    // its +10000 copy), so the expected keep-set is exactly the
    // originals; any surviving copy (planted pair missed) or dropped
    // original (non-planted collapse) raises in-query instead of
    // shipping a wrong rows-only answer
    "q_image_dedup" -> ((s, d) => {
      val imgs = Multimodal.syntheticMedia(s, 90).filter(col("kind") === "image")
      val a = Multimodal.resizeImages(imgs, 17, 13)
        .filter(col("resized").isNotNull)
        .select(col("media_id"), col("resized").as("content"))
      val b = a.select((col("media_id") + 10000L).as("media_id"), col("content"))
      val keep = mediaKeep(Multimodal.withPerceptualHash(a.unionByName(b)), "phash",
        maxDist = 0)
      CrysFrame(certifyKeys(keep, a.select(col("media_id")), Seq("media_id"),
        "image dedup planted-dup")).sortBy("media_id").out
    }),

    // cross-modal video dedup: the same footage ingested as STILLS and
    // as MJPEG VIDEO. JPEG stills are packaged into real single-frame
    // AVIs (id-offset), frames sampled back out, and both modalities
    // perceptual-hashed into ONE Hamming dedup — distance-0 pairs tie
    // each video to its source still and greedy min-id keeps the
    // stills. Rows-only (container walk + frame decode not
    // SQL-expressible); AviSpec pins writer/walker/frame exactness
    "q_video_dedup" -> ((s, d) =>
      // r10 certificate: expected keep-set = every HASHED still (ids
      // < 20000 — the video wraps are offset +20000 and must all
      // collapse onto their source stills); see q_image_dedup
      CrysFrame(certifyKeys(operators("q_video_dedup")(s, d),
        videoHashed(s).filter(col("media_id") < 20000L).select(col("media_id")),
        Seq("media_id"), "video dedup planted-dup")).sortBy("media_id").out),

    // audio near-dup dedup: spectral fingerprint over the REAL WAV
    // decoders fed through the same pigeonhole Hamming blocking as text
    // and images. Harness scenario: every decodable audio row
    // "ingested twice at half gain" (decode → exact integer scale →
    // PCM re-encode, id-offset) — gain edits defeat content-hash exact
    // dedup but leave this fingerprint bit-identical (power-of-two
    // scaling scales Goertzel powers exactly), so distance-≤2 pairs
    // tie each copy to its original and greedy min-id keeps the
    // originals. Rows-only by design; contract spec-pinned
    // (AudioFingerprintSpec: exact gain invariance, separation,
    // ADPCM-drift honesty, refusals)
    "q_audio_dedup" -> ((s, d) => {
      // three re-ingest shapes of every decodable clip: a half-gain
      // edit, an 8 kHz rate conversion, and a lossless FLAC transcode
      // — all must collapse onto the original via the canonicalized
      // fingerprint (AudioFingerprintSpec and AudioCrossCodecSpec pin
      // the per-row distances; FLAC collapses at distance 0 exactly)
      val aud = Multimodal.syntheticMedia(s, 90).filter(col("kind") === "audio")
      val gainCopies = Multimodal.scaleAudioPcm(aud, 1, 2)
        .filter(col("scaled").isNotNull)
        .select((col("media_id") + 10000L).as("media_id"), col("scaled").as("content"))
      val rateCopies = Multimodal.resampleAudioPcm(aud, 8000)
        .filter(col("resampled").isNotNull)
        .select((col("media_id") + 20000L).as("media_id"), col("resampled").as("content"))
      // third shape: the ARCHIVAL transcode — same clip re-wrapped as
      // FLAC (lossless, so it must collapse at Hamming distance 0)
      val flacCopies = Multimodal.transcodeAudioFlac(aud)
        .filter(col("flac").isNotNull)
        .select((col("media_id") + 30000L).as("media_id"), col("flac").as("content"))
      // localCheckpoint (eager), as q_multimodal: the fingerprinted
      // union feeds the Hamming pairs, the anti-join and the
      // certificate — uncached, every consumer would rebuild and
      // re-decode the synthetic media
      val hashed = Multimodal.withAudioFingerprint(
          aud.select(col("media_id"), col("content"))
            .unionByName(gainCopies).unionByName(rateCopies).unionByName(flacCopies))
        .filter(col("audio_fp").isNotNull).localCheckpoint()
      // r10 certificate: expected keep-set = every fingerprinted
      // ORIGINAL (ids < 10000 — gain/rate/FLAC re-ingests are offset
      // +10000/+20000/+30000 and must all collapse); see q_image_dedup
      CrysFrame(certifyKeys(mediaKeep(hashed, "audio_fp", maxDist = 2),
        hashed.filter(col("media_id") < 10000L).select(col("media_id")),
        Seq("media_id"), "audio dedup planted-dup")).sortBy("media_id").out
    }),

    // deterministic content-stable sampling (ml.Sampling): both derive
    // randomness from a SQL-expressible integer hash of the row id, so
    // the oracle computes the IDENTICAL assignment — and so can any
    // audit system. hashSplit is map-only; weightedSample is an
    // exponential-clock top-k per group (one shuffle)
    "q_hash_split" -> ((s, d) =>
      CrysFrame(Sampling.hashSplit(t(s, d, "documents"), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split")))
        .sortBy("doc_id").out),

    // LEAKAGE-SAFE split ORACLE-CHECKED: the draw hashes the
    // connected-component label (same SQL-expressible pair graph as
    // q_cc_labels), so near-dup cluster members provably share a
    // split; the oracle recomputes labels with the recursive CTE and
    // the identical Knuth CASE arithmetic on the label
    "q_split_leakage" -> ((s, d) => {
      val (docs, pairs) = ccDocsAndPairs(s, d)
      val labels = Dedup.connectedComponents(pairs)
      CrysFrame(Sampling.splitByCluster(docs.select("doc_id"), "doc_id", labels,
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)))
        .sortBy("doc_id").out
    }),

    "q_weighted_sample" -> ((s, d) =>
      CrysFrame(Sampling.weightedSample(t(s, d, "documents"),
        keyCols = Seq("lang"), idCol = "doc_id", weightCol = "n_chars", k = 20)
        .select(col("lang"), col("doc_id")))
        .sortBy("lang", "doc_id").out),

    // deterministic stratified sample (ml.Sampling.stratifiedSample):
    // exactly 20 docs per lang in content-stable hash order — the
    // oracle reproduces the identical draw in SQL integer arithmetic
    "q_stratified_sample" -> ((s, d) =>
      CrysFrame(Sampling.stratifiedSample(t(s, d, "documents"),
        strataCols = Seq("lang"), idCol = "doc_id", n = 20)
        .select(col("lang"), col("doc_id")))
        .sortBy("lang", "doc_id").out),

    // exact-count mixture (ml.Sampling.mixtureSampleExact): 200 docs
    // at explicit shares → integer floor-apportioned targets en 80 /
    // zh 60 / de 30 / fr 20 / es 10, drawn in hash order — the oracle
    // carries the same targets as constants
    "q_mixture_exact" -> ((s, d) =>
      CrysFrame(Sampling.mixtureSampleExact(t(s, d, "documents"),
        srcCol = "lang", idCol = "doc_id",
        weights = Map("en" -> 0.4, "zh" -> 0.3, "de" -> 0.15,
          "fr" -> 0.1, "es" -> 0.05),
        totalN = 200L)
        .select(col("lang"), col("doc_id")))
        .sortBy("lang", "doc_id").out),

    // binned range join (operators.RangeJoin): every event matched to
    // the session interval containing it — equi-join on (user, time
    // bin) + residual filter, never a nested-loop. Sessions of a user
    // are >30min apart, so each event hits EXACTLY one interval and
    // the output is one row per event, fully hash-checkable against a
    // plain inequality join in DuckDB
    "q_range_join" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      val sess = graft.operators.Sessionize.sessionStats(ev,
          keyCols = Seq("user_id"), tsCol = "ts", gapMs = 30L * 60 * 1000,
          valueCol = "value", tieBreak = Seq("event_id"))
        .select(col("user_id"), col("session_index"),
          col("start_s"), col("end_s"))
      val points = ev.select(col("event_id"), col("user_id"),
        col("ts").cast("long").as("ts_s"))
      CrysFrame(graft.operators.RangeJoin.pointInInterval(points, "ts_s",
        sess, "start_s", "end_s", by = Seq("user_id"), binWidth = 3600L)
        .select(col("event_id"), col("session_index")))
        .sortBy("event_id").out
    }),

    // interval-OVERLAP join (operators.RangeJoin.intervalOverlap):
    // which sessions of even-id users ran CONCURRENTLY with sessions
    // of odd-id users — the range×range temporal join Spark lacks
    // natively. Both sides bin; each pair is kept only in its
    // intersection's first bin, so no dedup shuffle exists in the plan
    "q_interval_join" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      val sess = graft.operators.Sessionize.sessionStats(ev,
          keyCols = Seq("user_id"), tsCol = "ts", gapMs = 30L * 60 * 1000,
          valueCol = "value", tieBreak = Seq("event_id"))
        .select(col("user_id"), col("session_index"),
          col("start_s"), col("end_s"))
      val a = sess.filter(col("user_id") % 2 === 0)
        .select(col("user_id").as("a_user"), col("session_index").as("a_session"),
          col("start_s").as("a_start"), col("end_s").as("a_end"))
      val b = sess.filter(col("user_id") % 2 === 1)
        .select(col("user_id").as("b_user"), col("session_index").as("b_session"),
          col("start_s").as("b_start"), col("end_s").as("b_end"))
      CrysFrame(graft.operators.RangeJoin.intervalOverlap(a, "a_start", "a_end",
          b, "b_start", "b_end", by = Seq(), binWidth = 3600L)
        .select(col("a_user"), col("a_session"), col("b_user"), col("b_session")))
        .sortBy("a_user", "a_session", "b_user", "b_session").out
    }),

    // greedy sequence packing (operators.Pack): fit documents into
    // 2048-token bins per language, walked in doc_id order — the
    // pre-training batching step. The walk is strictly sequential per
    // key, so the oracle is a recursive CTE doing the identical walk
    "q_pack" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"))
      CrysFrame(graft.operators.Pack.greedyPack(docs,
        keyCols = Seq("lang"), orderCols = Seq("doc_id"),
        sizeCol = "n_tok", budget = 2048L)
        .select(col("doc_id"), col("lang"), col("bin_index")))
        .sortBy("doc_id").out
    }),

    // ---------------- extensions: dedup ----------------
    "q_dedup_exact" -> ((s, d) =>
      CrysFrame(Dedup.exactByContentHash(t(s, d, "documents"), "doc_id", "text")
        .select("doc_id", "lang", "n_chars")).sortBy("doc_id").out),

    // incremental ingest dedup (ml.Dedup.dedupAgainstExact): the odd
    // half of documents arrives as a "new crawl" and is deduped
    // AGAINST the even half playing the standing corpus — the corpus
    // side reduces to distinct 8-byte hashes before the anti-join
    "q_dedup_against" -> ((s, d) => {
      val (batch, corpus) = ingestHalves(s, d)
      CrysFrame(Dedup.dedupAgainstExact(batch, corpus, "text")
        .select("doc_id", "lang", "n_chars")).sortBy("doc_id").out
    }),

    // near variant of the ingest pattern, self-certifying: the banded
    // anchor-probe keep-set is proven equal IN-QUERY to a brute-force
    // probe of every corpus signature (one broadcast anchor array,
    // compiled in-task loop) — any banding false-negative aborts the
    // query via raise_error instead of shipping a wrong answer to a
    // rows-only check. Hash family isn't SQL-portable → rows-only.
    "q_dedup_against_near" -> ((s, d) => {
      import graft.functions.Kernels
      val (batch, corpus) = ingestHalves(s, d)
      def sigOf(df: DataFrame) = df.select(
        col("doc_id").cast("long").as("id"),
        Kernels.minhashSig(
          graft.text.TextFunctions.normalizeText(col("text")), 64, 4).as("sig"))
      val allAnchors = sigOf(corpus)
        .agg(collect_list(struct(col("id"), col("sig"))).as("__anchors"))
      val bfDrop = sigOf(batch).crossJoin(broadcast(allAnchors))
        .filter(Kernels.minhashAnchorDrop(
          lit(Long.MaxValue), col("sig"), col("__anchors"), 64, 0.7))
        .select(col("id").as("doc_id"))
      val bfKeep = batch.select(col("doc_id").cast("long").as("doc_id"))
        .join(bfDrop, Seq("doc_id"), "left_anti")
      CrysFrame(certifyKeys(operators("q_dedup_against_near")(s, d), bfKeep,
        Seq("doc_id"), "dedupAgainstNear banded/brute-force keep-set"))
        .sortBy("doc_id").out
    }),

    "q_dedup_minhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // in-query certificate: the SCALE path (bounded MinK anchor
      // aggregate + probe kernel) must produce the same keep-set as
      // the independent pair-join formulation of the identical
      // contract (window-capped bucket self-join + signature verify).
      // Exhaustive-Jaccard equality is NOT asserted — the band
      // structure is part of the operator's definition — but the two
      // implementations must agree row-for-row; divergence raises
      // in-band instead of shipping a wrong keep-set.
      val dups = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.7, shingleSize = 4)
        .select(col("id_b").as("doc_id")).distinct()
      val pairKeep = docs.select("doc_id").join(dups, Seq("doc_id"), "left_anti")
      CrysFrame(certifyKeys(operators("q_dedup_minhash")(s, d), pairKeep,
        Seq("doc_id"), "minhash anchor/pair keep-set")).sortBy("doc_id").out
    }),

    // duplicate-CLUSTER dedup (connected components over the verified
    // candidate graph) — deterministic kept set; hash family not
    // SQL-portable, so rows-only like q_dedup_minhash (CC semantics
    // spec-pinned in ReadersExtensionsSpec)
    "q_dedup_cc" -> ((s, d) =>
      CrysFrame(Dedup.minhashDedupCC(t(s, d, "documents"), "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.7, shingleSize = 4)
        .select("doc_id")).sortBy("doc_id").out),

    "q_simhash_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // in-query certificate: pigeonhole blocking GUARANTEES recall
      // at maxDist ≤ 3, so the blocked pairs must EQUAL the
      // exhaustive all-pairs Hamming probe exactly — any divergence
      // (lost pair, phantom pair, wrong distance) raises in-band.
      // The probe is the certificate's cost: |docs|² bit_counts, no
      // strings or signatures in the cross join.
      val hashes = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("__sh"))
      val a = hashes.select(col("doc_id").as("id_a"), col("__sh").as("__ha"))
      val b = hashes.select(col("doc_id").as("id_b"), col("__sh").as("__hb"))
      val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.hamming(col("__ha"), col("__hb")).cast("int").as("hamming"))
        .filter(col("hamming") <= 3)
      CrysFrame(certifyKeys(operators("q_simhash_pairs")(s, d), exact,
        Seq("id_a", "id_b", "hamming"), "simhash blocked/exhaustive pairs"))
        .sortBy("id_a", "id_b").out
    }),

    // exact n-gram Jaccard over a bounded slice (the verify kernel of the
    // candidate→verify dedup, oracle-checked); the LSH candidate path is
    // pinned by DedupSpec's recall-vs-brute-force equality test.
    // jaccard = inter/union of two small exact ints — IEEE division is
    // correctly rounded in both engines, so the raw double is
    // bit-identical (no round() needed, none wanted: rounding a ratio
    // like 3/640 can tie at the 7th digit and diverge).
    "q_jaccard_pairs" -> ((s, d) => {
      val sh = t(s, d, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), TextFunctions.normalizeText(col("text")).as("__norm"))
        .select(col("doc_id"), TextFunctions.shinglesFromNormalized(col("__norm"), 5).as("__sh"))
      val a = sh.select(col("doc_id").as("id_a"), col("__sh").as("__sha"))
      val b = sh.select(col("doc_id").as("id_b"), col("__sh").as("__shb"))
      val inter = size(array_intersect(col("__sha"), col("__shb"))).cast("double")
      val uni = size(array_union(col("__sha"), col("__shb"))).cast("double")
      CrysFrame(a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          when(uni === 0, lit(0.0)).otherwise(inter / uni).as("jaccard"))
        .filter(col("jaccard") >= 0.5))
        .sortBy("id_a", "id_b").out
    }),

    // connected components ORACLE-CHECKED: the pair graph here is
    // SQL-expressible (exact 5-gram Jaccard >= 0.25 over a bounded doc
    // slice — 305 edges incl. a 116-node transitive component at
    // sf0.01), so DuckDB can recompute the labels with a recursive CTE
    // and hash-compare them. localEdgeLimit=0 FORCES the distributed
    // min-label loop — the 100-TB path — under the oracle; the local
    // union-find path is pinned equal to it in ReadersExtensionsSpec.
    "q_cc_labels" -> ((s, d) => {
      val (_, pairs) = ccDocsAndPairs(s, d)
      CrysFrame(Dedup.connectedComponents(pairs, localEdgeLimit = 0L)
        .withColumnRenamed("id", "doc_id"))
        .sortBy("doc_id").out
    }),

    // quality-aware cluster representatives ORACLE-CHECKED: same
    // SQL-expressible pair graph as q_cc_labels, score = normalized
    // length (the "keep the longest capture" production heuristic,
    // SQL-mirrorable to the character); DuckDB recomputes labels with
    // the recursive CTE then takes max-score/min-id per cluster —
    // singletons (docs outside the pair graph) keep themselves
    "q_cc_best" -> ((s, d) => {
      val (docs, pairs) = ccDocsAndPairs(s, d)
      val labels = Dedup.connectedComponents(pairs)
      val scored = docs.select(col("doc_id"),
        length(col("__norm")).cast("long").as("score"))
      CrysFrame(Dedup.keepBestPerCluster(scored, "doc_id", "score", labels))
        .sortBy("label").out
    }),

    // embedding-cosine near-dedup: the RESULT is the 100-TB path —
    // Dedup.embeddingDedup's banded hyperplane-LSH keep-set (bucket
    // join + rounded-cosine verify, no CartesianProduct) — proven
    // in-query equal to the exact all-pairs keep-set the DuckDB oracle
    // defines: both direction anti-joins feed raise_error, so ANY
    // divergence (a missed candidate pair included) aborts the query
    // instead of shipping an approximate answer to an exact oracle.
    // nBits=4 × bands=64 sizes the OR amplification to the low 0.45
    // threshold (per-pair miss ≈ 4e-6; see embeddingDedup scaladoc).
    "q_embed_dedup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val lshKeep = Dedup.embeddingDedup(e, "vec_id", "embedding",
        threshold = 0.45, nBits = 4, bands = 64).select("vec_id")
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      val dups = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .filter(round(Similarity.cosine(col("va"), col("vb")), 6) >= 0.45)
        .select(col("id_b").as("vec_id")).distinct()
      val exactKeep = e.join(dups, Seq("vec_id"), "left_anti").select("vec_id")
      CrysFrame(certifyKeys(lshKeep, exactKeep, Seq("vec_id"),
        "embeddingDedup LSH/exact keep-set")).sortBy("vec_id").out
    }),

    // SemDeDup cluster dedup (ml.Dedup.semanticDedup): k-means
    // clusters + exact within-cluster greedy. Rows-only by design —
    // the cluster boundary is the approximation and k-means is not
    // SQL-expressible (q_dedup_cc precedent). r10: IN-BAND certificate
    // — the query recomputes the within-cluster keep-set through an
    // INDEPENDENT pair-join formulation (exists a lower id in the
    // same cluster at rounded-cos ≥ t), the same independent-twin
    // shape as q_embed_dedup; any divergence from the operator's
    // collect_list-kernel path raises in-query. r11: both arms share
    // ONE collected clustering (Dedup.semanticCentroids) — Lloyd's
    // distributed avg() is accumulation-order sensitive, so a twin
    // that re-DERIVED centroids could flip a near-boundary assignment
    // by an ulp and raise spuriously; only the keep-RULE is
    // independently recomputed, which is what the certificate is for.
    // The bench times the bare operator via benchVariant (proof work
    // stays out of the perf record).
    "q_semantic_dedup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val nonNull = e.filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      val cents = Dedup.semanticCentroids(e, "vec_id", "embedding",
        nLists = 8, refineIters = 2)
      val keep = Dedup.semanticDedupWithCentroids(e, "vec_id", "embedding",
        threshold = 0.45, cents).select("vec_id")
      val assigned = Similarity.assignLists(nonNull, "vec_id", "embedding", cents)
        .select(col("list_id"), col("vec_id"), col("embedding"))
      val a = assigned.select(col("list_id"), col("vec_id").as("id_a"),
        col("embedding").as("va"))
      val b = assigned.select(col("list_id"), col("vec_id").as("id_b"),
        col("embedding").as("vb"))
      val dups = a.join(b, "list_id").filter(col("id_a") < col("id_b"))
        .filter(round(Similarity.cosine(col("va"), col("vb")), 6) >= 0.45)
        .select(col("id_b").as("vec_id")).distinct()
      val expectKeep = e.join(dups, Seq("vec_id"), "left_anti").select("vec_id")
      CrysFrame(certifyKeys(keep, expectKeep, Seq("vec_id"),
        "semanticDedup operator/pair-join keep-set")).sortBy("vec_id").out
    }),

    // ---------------- extensions: similarity search ----------------
    "q_cosine_pairs" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val a = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.filter(col("vec_id") >= 20 && col("vec_id") < 40)
        .select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      CrysFrame(a.crossJoin(broadcast(b))
        .select(col("id_a"), col("id_b"),
          round(Similarity.cosine(col("va"), col("vb")), 6).as("cos_sim")))
        .sortBy("id_a", "id_b").out
    }),

    "q_ann_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      CrysFrame(annRows(Similarity.bruteForceTopK(e, "vec_id", "embedding",
        annQueries(e), "vec_id", "embedding", k = 5)))
        .sortBy("query_id", "rank").out
    }),

    // IVF top-k — no SQL oracle (approximate by design), but carries
    // an IN-BAND recall certificate: the IVF neighbors are overlapped
    // against a brute-force ground truth over the same queries and the
    // query raises if fewer than 35 of the 50 (query, nn) pairs agree.
    // The floor sits well under the measured deterministic recall at
    // every driver SF (0.82-0.88 at nProbe=8, seeded k-means) while
    // still refuting a probe-routing or list-assignment regression
    // in-band instead of shipping silently-bad neighbors. The probe
    // costs about one q_ann_topk (10 queries x corpus, broadcast side).
    "q_ann_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      certifiedAnn(annRows(Similarity.ivfTopK(e, "vec_id", "embedding",
        annQueries(e), "vec_id", "embedding", k = 5, nLists = 16, nProbe = 8)),
        e, "ivfTopK recall")
    }),

    // CALIBRATED IVF top-k (r12): the probe count is not guessed from
    // √nLists but MEASURED in-job — a bounded query sample's recall
    // against a one-scan brute-force ground truth escalates nProbe
    // (×2 steps, capped) until the 0.7 target holds, and the measured
    // recall + chosen probe count ride every output row. rows-only
    // (approximate by design) with TWO in-band certificates: (a) the
    // emitted measured_recall must clear the target (raise otherwise —
    // the op proceeds-with-evidence at its cap, the query gates on the
    // evidence), (b) the same independent brute-force overlap floor as
    // q_ann_ivf, so the calibration cannot vouch for itself.
    "q_ann_ivf_cal" -> ((s, d) =>
      certifiedAnn(operators("q_ann_ivf_cal")(s, d), t(s, d, "embeddings"),
        "ivfTopKCalibrated")),

    // IVF-PQ with exact re-rank (ml.Pq): inverted lists bound WHICH
    // candidates are touched, 16-byte PQ codes bound the bytes per
    // candidate (16x compression of the 64-float vectors), and the
    // top-50 ADC survivors re-score against true vectors — recall
    // recovers the plain-IVF ceiling at the same nProbe (PqSpec pins
    // the gradient). As of r14 the codes are RESIDUAL (IVFADC,
    // trainResidual): the codebook quantizes x − centroid(list), so
    // ADC error shrinks to the within-list displacement — the
    // structural fix for the r13 ×64 reading where raw-codebook ADC
    // (0.354) sat under the IVF candidate ceiling (0.408).
    // rows-only (approximate by design), but carries
    // the same IN-BAND recall certificate as q_ann_ivf: the re-ranked
    // neighbors overlap the brute-force ground truth on ≥ 35 of the
    // 50 (query, nn) pairs or the query raises. The floor matches the
    // plain-IVF certificate because the exact re-rank provably cannot
    // lose recall vs the IVF candidate set at the same nProbe (PqSpec
    // "re-rank must not lose recall"); measured 0.82-0.92 across the
    // driver SFs.
    "q_ann_pq" -> ((s, d) =>
      certifiedAnn(operators("q_ann_pq")(s, d), t(s, d, "embeddings"),
        "ivfPqTopK recall")),

    // CALIBRATED IVF-PQ top-k (r13; r14 knob policy + residual codes):
    // the two-knob counterpart of q_ann_ivf_cal — whichever knob's
    // last doubling moved sampled recall ≥ 0.02 keeps control (nProbe
    // first; a plateau or cap hands over). With r14's residual
    // (IVFADC) codes the ADC loss mostly vanishes, so calibration
    // typically escalates probes alone — the r13 near-exhaustive
    // (nProbe 304/358 + rerank 160) pattern was the raw codebook
    // paying for rotation structure. rows-only (approximate by
    // design) with the same TWO
    // in-band certificates: (a) the emitted measured_recall must clear
    // the target, (b) an independent brute-force overlap floor, so the
    // calibration cannot vouch for itself.
    "q_ann_pq_cal" -> ((s, d) =>
      certifiedAnn(operators("q_ann_pq_cal")(s, d), t(s, d, "embeddings"),
        "ivfPqTopKCalibrated")),

    // ---------------- extensions: text analysis ----------------
    "q_token_count" -> ((s, d) =>
      CrysFrame(t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tokens_ws")))
        .sortBy("doc_id").out),

    "q_token_stats" -> ((s, d) =>
      CrysFrame(t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(F.sum(TextFunctions.tokenCountWs(col("text")).cast("long")).as("total_tokens"),
          F.count(lit(1)).as("n_docs")))
        .sortBy("lang").out),

    "q_lang_id" -> ((s, d) =>
      CrysFrame(t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("pred_lang")))
        .sortBy("doc_id").out),

    "q_quality" -> ((s, d) =>
      CrysFrame(t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          round(TextFunctions.stopwordRatio(col("text"), "en"), 6).as("stopword_ratio")))
        .sortBy("doc_id").out),

    "q_fingerprint" -> ((s, d) =>
      CrysFrame(t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp")))
        .sortBy("doc_id").out),

    // Gopher-style duplicate-text quality signals: the kernel emits raw
    // integer counters; the ratios are two IEEE double ops each
    // (cast-divide, subtract) — the same op sequence the oracle runs,
    // so the doubles are bit-identical (no rounding, none wanted)
    "q_repetition" -> ((s, d) => {
      val st = t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.normalizeText(col("text")).as("__norm"))
        .select(col("doc_id"),
          graft.functions.Kernels.repetitionStats(col("__norm")).as("__st"))
      CrysFrame(st.select(
        col("doc_id"),
        col("__st.total_words").cast("long").as("total_words"),
        when(col("__st.total_words") > 0,
          lit(1.0) - col("__st.distinct_words").cast("double") / col("__st.total_words"))
          .otherwise(lit(0.0)).as("dup_word_ratio"),
        when(col("__st.total_bigrams") > 0,
          lit(1.0) - col("__st.distinct_bigrams").cast("double") / col("__st.total_bigrams"))
          .otherwise(lit(0.0)).as("dup_bigram_ratio"),
        when(col("__st.total_words") > 0,
          col("__st.top_word").cast("double") / col("__st.total_words"))
          .otherwise(lit(0.0)).as("top_word_ratio")))
        .sortBy("doc_id").out
    }),

    // vocabulary: top-k words by global count; (n desc, word) is a
    // total order so the k-row SET matches the oracle's LIMIT exactly
    "q_vocab" -> ((s, d) =>
      CrysFrame(TextFunctions.topWords(t(s, d, "documents"), col("text"), 100))
        .out),

    // BPE tokenizer training statistics (text.Bpe): the first-round
    // weighted adjacent-symbol pair counts over the word-frequency
    // vocabulary — the ONE corpus-scale aggregation in BPE training;
    // top-100 under the (cnt desc, a, b) total order the trainer uses
    "q_bpe_pairs" -> ((s, d) => {
      val vocab = graft.text.Bpe.wordFreqs(t(s, d, "documents"), "text")
        .withColumn("syms", graft.text.Bpe.initialSymbols(col("word")))
      CrysFrame(graft.text.Bpe.adjacentPairCounts(vocab)
          .orderBy(desc("cnt"), asc("a"), asc("b")).limit(100))
        .sortBy("a", "b").out
    }),

    // BPE train + encode, proven lossless IN-QUERY: a merge table is
    // trained on the corpus (driver-looped argmax over vocab-sized
    // aggregations — the corpus is scanned once), every doc is encoded
    // with the BpeEncodeExpr kernel, and the subword stream is
    // REASSEMBLED (concat, end-of-word → space). The oracle computes
    // the normalized text directly — a hash match proves the trained
    // tokenizer round-trips every document byte-exactly.
    "q_bpe_roundtrip" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = graft.text.Bpe.trainBpe(docs, "text", numMerges = 40)
      CrysFrame(docs.select(col("doc_id"),
          trim(regexp_replace(
            array_join(graft.text.Bpe.encodeBpe(col("text"), merges), ""),
            graft.text.Bpe.EndOfWord, " ")).as("text_rt")))
        .sortBy("doc_id").out
    }),

    // bigram LM conditional cross-entropy (text.LangModel.bigramXent):
    // same contract as q_lm_score one order up — pair counts join on
    // 8-byte hashes while the oracle joins pair STRINGS (collision
    // check included, like q_decontaminate)
    "q_lm_bigram" -> ((s, d) => {
      val docs = t(s, d, "documents")
      CrysFrame(graft.text.LangModel.bigramXent(
          docs, "doc_id", "text",
          docs.filter(col("lang") === "en"), "text"))
        .sortBy("doc_id").out
    }),

    // capstone composite: the RAG indexing flow in ONE plan — chunk
    // the corpus into token windows, then BM25-rank CHUNKS per query
    // (chunk_uid = doc_id·1000 + chunk_id; chunk counts are bounded by
    // doc length / stride ≪ 1000). Every stage reuses proven
    // machinery, so the composite inherits bit-exactness
    "q_rag_pipeline" -> ((s, d) => {
      import s.implicits._
      // uid packing is GUARDED: a ≥48k-token doc would alias uids
      // identically in both engines (green but corrupt) — raise instead
      val chunks = TextFunctions.chunkByTokens(
          t(s, d, "documents"), "doc_id", "text", maxTokens = 64, overlap = 16)
        .select(when(col("chunk_id") < 1000L,
            col("doc_id") * 1000L + col("chunk_id"))
            .otherwise(raise_error(lit(
              "q_rag_pipeline: chunk_id >= 1000 overflows the uid packing")))
          .as("chunk_uid"),
          col("chunk_text"))
      val qs = Seq((0L, "hash join table"), (1L, "window agg stream batch"),
        (2L, "slow query filter")).toDF("query_id", "qtext")
      CrysFrame(Search.bm25TopK(chunks, "chunk_uid", "chunk_text",
          qs, "query_id", "qtext", k = 10)
          .withColumn("rank", col("rank").cast("long"))
          .select(col("query_id"), col("doc_id").as("chunk_uid"),
            col("score_micro"), col("rank")))
        .sortBy("query_id", "rank").out
    }),

    // token-window chunking (text.TextFunctions): 64-token chunks with
    // 16-token overlap — context-length prep; every doc yields ≥ 1
    // chunk so corpus coverage is total
    "q_chunk" -> ((s, d) =>
      CrysFrame(TextFunctions.chunkByTokens(
          t(s, d, "documents"), "doc_id", "text", maxTokens = 64, overlap = 16)
          .filter(col("doc_id") < 100))
        .sortBy("doc_id", "chunk_id").out),

    // unigram LM cross-entropy (text.LangModel): train on the 'en'
    // slice, score everything — in-domain docs score lower xent than
    // out-of-domain, the CCNet-style filter signal. Micro-unit
    // surprisals keep the sums order-independent-exact
    "q_lm_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      CrysFrame(graft.text.LangModel.unigramXent(
          docs, "doc_id", "text",
          docs.filter(col("lang") === "en"), "text"))
        .sortBy("doc_id").out
    }),

    // model-based quality filter (text.Classifier): two-class
    // multinomial Naive Bayes trained on lang='en' vs rest, scoring
    // the whole corpus — per-token LLRs in micro-nats so sums are
    // order-independent longs (q_lm_score exactness contract)
    "q_nb_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      CrysFrame(graft.text.Classifier.nbScore(
          docs, "doc_id", "text", docs, "text", col("lang") === "en"))
        .sortBy("doc_id").out
    }),

    // deflate compressibility signal (text.TextFunctions
    // .compressionRatio): rows-only by design — the ratio is a JVM
    // zlib computation with no SQL equivalent; exactness is
    // spec-pinned against java.util.zip in-process
    // (CompressionSignalSpec). r10: IN-BAND certificate — a planted
    // in-plan probe pair (keyword-spam text must compress < 0.15,
    // mixed prose > 0.5 — the signal's separating power, the reason
    // the filter works at all) plus a per-row positivity bound, both
    // wrapping the kept column so Catalyst cannot prune the proof.
    "q_compress_signal" -> ((s, d) => {
      import s.implicits._
      val rep = "spark shuffle spark shuffle " * 100
      val prose = "The quick brown fox jumps over the lazy dog while 42 " +
        "engineers debug a Spark shuffle on a rainy Tuesday afternoon, " +
        "each holding a different theory about partition skew."
      val probe = Seq(("rep", rep), ("prose", prose)).toDF("__k", "__t")
        .select(col("__k"),
          graft.text.TextFunctions.compressionRatio(col("__t")).as("__r"))
        .agg((F.max(when(col("__k") === "rep", col("__r"))) < 0.15 &&
          F.max(when(col("__k") === "prose", col("__r"))) > 0.5).as("__ok"))
      val main = t(s, d, "documents")
        .select(col("doc_id"),
          round(graft.text.TextFunctions.compressionRatio(col("text")), 6)
            .as("__cr"))
      CrysFrame(main.crossJoin(broadcast(probe))
        .select(col("doc_id"),
          when(!col("__ok") || col("__cr") <= 0,
            raise_error(concat(
              lit("compressionRatio certificate violated at doc_id="),
              col("doc_id").cast("string"))).cast("double"))
            .otherwise(col("__cr")).as("compress_ratio")))
        .sortBy("doc_id").out
    }),

    // curation composite: the NB filter driving corpus curation —
    // keep docs the model calls in-domain, then per-source kept-doc /
    // token tallies (what a mixture rebalance consumes). Every stage
    // is integer-exact, so the composite hash-matches end to end
    "q_curation" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = graft.text.Classifier.nbScore(
        docs, "doc_id", "text", docs, "text", col("lang") === "en")
      CrysFrame(docs.select(col("doc_id"), col("source"))
          .join(scored.filter(col("pred") === 1), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("kept_tokens")))
        .sortBy("source").out
    }),

    // per-doc tf-idf keywords (text.Search): micro-unit scores, ties
    // by term string (binary collation both engines — q_vocab
    // precedent); restricted to doc_id < 50 to keep the compare small
    "q_tfidf_keywords" -> ((s, d) =>
      CrysFrame(Search.tfidfTopTerms(
          t(s, d, "documents"), "doc_id", "text", k = 5)
          .filter(col("doc_id") < 50))
        .sortBy("doc_id", "rank").out),

    // sharded export assignment (sources.Export): fixed shard count,
    // content-stable Knuth-hash map — the oracle computes the same
    // layout, proving a loader can address shards engine-independently
    "q_shard_assign" -> ((s, d) =>
      CrysFrame(graft.sources.Export.shardAssign(
          t(s, d, "documents").select(col("doc_id")), "doc_id", nShards = 8))
        .sortBy("doc_id").out),

    // curriculum shard assignment (sources.Export): shard k = the
    // k-th contiguous band in (score, id) order, exact rank
    // arithmetic — the oracle recomputes the identical layout with a
    // window rank, proving the easy→hard banding is engine-portable.
    // Score = raw text length (the classic length curriculum)
    "q_curriculum" -> ((s, d) =>
      CrysFrame(graft.sources.Export.curriculumAssign(
          t(s, d, "documents")
            .select(col("doc_id"), length(col("text")).cast("long").as("score")),
          "doc_id", "score", nShards = 4))
        .sortBy("doc_id").out),

    // hybrid retrieval (text.Search): BM25 + cosine fused by
    // reciprocal-rank fusion over integer micro-unit terms — both
    // rankers' ranks are already oracle-exact (q_bm25 / q_ann_topk
    // machinery), so the fused ranking is too. Corpus = documents ⋈
    // embeddings on id; probe vectors are the query-id embeddings
    "q_hybrid_search" -> ((s, d) => {
      import s.implicits._
      val emb = t(s, d, "embeddings")
      val docs = t(s, d, "documents")
      val corpus = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(docs("doc_id"), col("text"), col("embedding"))
      val qtexts = Seq((0L, "hash join table"), (1L, "window agg stream batch"),
        (2L, "slow query filter")).toDF("query_id", "qtext")
      val queries = qtexts.join(emb, qtexts("query_id") === emb("vec_id"))
        .select(col("query_id"), col("qtext"), col("embedding").as("qvec"))
      CrysFrame(Search.hybridTopK(corpus, "doc_id", "text", "embedding",
          queries, "query_id", "qtext", "qvec", k = 10)
          .withColumn("rank", col("rank").cast("long")))
        .sortBy("query_id", "rank").out
    }),

    // temperature resampling (ml.Sampling): language-mix flattening at
    // alpha=0.5 — rare langs keep a higher fraction than dominant
    // ones. Keep probabilities quantize to micro-units and the per-row
    // draw compares INTEGERS, so the kept set is bit-reproducible by
    // the oracle
    "q_temperature_sample" -> ((s, d) =>
      CrysFrame(Sampling.temperatureResample(
          t(s, d, "documents"), "lang", "doc_id",
          alpha = 0.5, targetFraction = 0.5)
          .select(col("doc_id"), col("lang")))
        .sortBy("doc_id").out),

    // explicit-target mixture (ml.Sampling.mixtureResample): "train on
    // 40% en / 30% zh / ..." — per-lang keep rates from the requested
    // shares, micro-quantized, map-only on the corpus side; the oracle
    // reproduces every rate and draw in integer arithmetic
    "q_mixture_resample" -> ((s, d) =>
      CrysFrame(Sampling.mixtureResample(
          t(s, d, "documents"), "lang", "doc_id",
          weights = Map("en" -> 0.4, "zh" -> 0.3, "de" -> 0.15,
            "fr" -> 0.1, "es" -> 0.05),
          targetFraction = 0.5)
          .select(col("doc_id"), col("lang")))
        .sortBy("doc_id").out),

    // int8 embedding quantization (ml.Quantize): per-vector affine
    // codes with one fixed IEEE op order — the oracle reproduces every
    // code and the reconstruction error bound exactly (codes join to a
    // comma string; the driver compare can't hash array cells)
    "q_quantize" -> ((s, d) => {
      val q = graft.ml.Quantize.quantizeEmbeddings(t(s, d, "embeddings"), "embedding")
        .withColumn("__vd", col("embedding").cast("array<double>"))
      CrysFrame(q.select(col("vec_id"), col("vmin"), col("vmax"),
          array_join(col("qvec"), ",").as("qstr"),
          round(graft.ml.Quantize.maxAbsError(
            col("__vd"), col("qvec"), col("vmin"), col("vmax")), 9).as("max_err")))
        .sortBy("vec_id").out
    }),

    // PII scrub (text.Scrub): plant deterministic emails/IPs/phones in
    // a slice of the corpus (mirrored verbatim in the oracle), then
    // count + redact with lookaround-free patterns that mean the same
    // thing in Java regex and RE2 — so DuckDB reproduces counts AND
    // redacted text byte-for-byte
    "q_scrub_pii" -> ((s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com or +1415555"), (col("doc_id") % 100).cast("string")))
            .when(col("doc_id") % 5 === 1,
              concat(lit(" from host 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
            .otherwise(lit(""))).as("text"))
      CrysFrame(graft.text.Scrub.redactPii(aug, "text")
          .select(col("doc_id"), col("n_emails"), col("n_ips"),
            col("n_phones"), col("text_redacted")))
        .sortBy("doc_id").out
    }),

    // HTML boilerplate stripping (text.TextFunctions.stripHtml): each
    // doc wrapped in a deterministic page frame exercising script/style
    // bodies, comments, entity decode (incl. the double-escape case)
    // and tag word-boundaries — byte-exact vs the oracle's identical
    // RE2 chain. Map-only, codegen'd, no shuffle.
    "q_strip_html" -> ((s, d) => {
      val html = concat(
        lit("<html><head><title>d</title><style type=\"text/css\">p { color: #333; }" +
          "</style></head><body><h1 class=\"hd\">"), col("lang"),
        lit("</h1><!-- note --><p>"), col("text"),
        lit("</p><script>if (1 &lt; 2) { x = 1; }</script>" +
          "<div>tail &amp;amp; &quot;q&quot;&nbsp;&#39;e&#39; &amp; &lt;b&gt;</div>" +
          "</body></html>"))
      CrysFrame(t(s, d, "documents")
          .select(col("doc_id"), TextFunctions.stripHtml(html).as("text_plain"))
          .select(col("doc_id"), col("text_plain"),
            length(col("text_plain")).cast("long").as("n_plain")))
        .sortBy("doc_id").out
    }),

    // URL canonicalization (text.TextFunctions.canonicalizeUrl): the
    // dedup key for crawl URLs — scheme/host case, default ports,
    // fragments, tracking params. Deterministic URL frames per doc_id
    // exercise every rule; engine-portable chain, byte-exact oracle.
    "q_url_canon" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val url = when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("HTTP://Example.COM:80/Docs/"), id,
            lit("?utm_source=feed&id="), id, lit("#sec")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("https://CDN.example.com:443/assets/"), id,
            lit("?id="), id, lit("&fbclid=xyz&utm_medium=m")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          lit("http://example.com?utm_campaign=c"))
        .otherwise(concat(lit("FTP://Files.example.org:21/pub/"), id))
      CrysFrame(t(s, d, "documents")
          .select(col("doc_id"), TextFunctions.canonicalizeUrl(url).as("url_canon")))
        .sortBy("doc_id").out
    }),

    // corpus-internal duplicated-passage profile: fraction of each
    // doc's distinct 13-grams appearing in some OTHER doc (sizes the
    // near-dedup pass; finds boilerplate). Joins on 8-byte hashes; the
    // string-joining oracle again doubles as a collision check
    "q_dup_passages" -> ((s, d) =>
      CrysFrame(graft.text.Decontaminate.duplicatedPassageStats(
          t(s, d, "documents"), "doc_id", "text", n = 13))
        .sortBy("doc_id").out),

    // duplicated-passage REMOVAL (the transform twin of the profile):
    // tokens covered by any >=2-doc 13-gram window are cut from every
    // doc, documents rebuilt from the survivors. The oracle rebuilds
    // via the same token/window joins on gram STRINGS and compares the
    // full clean_text byte-for-byte — green proves window coverage,
    // token reassembly order, and hash-collision freeness all at once
    "q_dup_removal" -> ((s, d) =>
      CrysFrame(graft.text.Decontaminate.removeDuplicatedPassages(
          t(s, d, "documents"), "doc_id", "text", n = 13))
        .sortBy("doc_id").out),

    // CHAR-level exact-substring dedup (Lee et al. 2022's ExactSubstr,
    // re-expressed as hash grouping instead of a suffix array): every
    // maximal span whose 40-char windows all occur >= 2 times in the
    // corpus is cut, preserving the surrounding text byte-exactly
    // (unlike the token-rebuild above, which renormalizes whitespace).
    // The oracle re-derives the islands from gram STRINGS with a
    // lag-window SQL formulation and rebuilds clean_text via substr
    // segments — byte-for-byte equality proves window coverage, the
    // island merge (incl. the adjacent-windows rule), the cut
    // arithmetic, and hash-collision freeness in one green
    "q_exact_substr" -> ((s, d) =>
      CrysFrame(graft.text.ExactSubstr.dedup(
          t(s, d, "documents").select("doc_id", "text"), "doc_id", "text", minLen = 40))
        .reject("text")
        .sortBy("doc_id").out),

    // benchmark decontamination (text.Decontaminate): flag corpus docs
    // sharing 13-word-grams with an eval split (doc_id % 3 == 2 — the
    // split that crosses the corpus's planted near-dup pairs). Joins on
    // 8-byte xxhash64 keys; the DuckDB oracle joins the STRINGS, so a
    // hash-collision would surface as a mismatch — the hash-match green
    // doubles as a collision-freeness check at this SF
    "q_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      CrysFrame(graft.text.Decontaminate.ngramOverlap(
          docs.filter(col("doc_id") % 3 =!= 2), "doc_id", "text",
          docs.filter(col("doc_id") % 3 === 2), "text", n = 13))
        .sortBy("doc_id").out
    }),

    // SURGICAL decontamination (text.ExactSubstr.cutAgainst): instead
    // of flagging/dropping whole documents that overlap the eval split
    // (q_decontaminate), cut exactly the shared >= 40-char spans and
    // keep the rest of each document. Same eval split (doc_id % 3 == 2)
    // so the two decontamination modes are directly comparable; the
    // oracle rebuilds clean_text from gram STRINGS (byte-for-byte)
    "q_decontaminate_cut" -> ((s, d) => {
      val docs = t(s, d, "documents")
      CrysFrame(graft.text.ExactSubstr.cutAgainst(
          docs.filter(col("doc_id") % 3 =!= 2).select("doc_id", "text"), "doc_id", "text",
          docs.filter(col("doc_id") % 3 === 2), "text", minLen = 40))
        .reject("text")
        .sortBy("doc_id").out
    }),

    // BM25 full-text top-k per query (text.Search): contributions are
    // quantized to integer micro-units before the distributed sum, so
    // the score is an order-independent exact long any engine
    // reproduces — the oracle mirrors the formula EXPRESSION shape
    // (same IEEE op order, same primitive constants) and hash-matches
    "q_bm25" -> ((s, d) => {
      import s.implicits._
      val qs = Seq((0L, "hash join table"), (1L, "window agg stream batch"),
        (2L, "slow query filter")).toDF("query_id", "qtext")
      CrysFrame(Search.bm25TopK(t(s, d, "documents"), "doc_id", "text",
          qs, "query_id", "qtext", k = 10)
          .withColumn("rank", col("rank").cast("long")))
        .sortBy("query_id", "rank").out
    }),

    // END-TO-END INGEST COMPOSITE over the round-6 ops, one plan: the
    // odd half of documents arrives as an HTML "crawl" and runs
    // stripHtml → dedupAgainstExact vs the standing corpus (the even
    // half, ingested through the SAME strip earlier) → quality gate →
    // per-lang audit counts. Quality folds as micro-quantized integer
    // sums so the composite stays hash-stable under any partitioning.
    "q_ingest_pipeline" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def stripped(half: Int) = docs
        .filter(pmod(col("doc_id"), lit(2)) === half)
        .select(col("doc_id"), col("lang"),
          TextFunctions.stripHtml(concat(lit("<html><body><p>"), col("text"),
            lit("</p><!-- note --></body></html>"))).as("text_plain"))
      // Kernels.once: without the barrier, PushDownPredicates expands
      // quality — and through it the stripHtml alias — into the pushed
      // filter condition (~10 regex-chain copies per row measured in
      // the r14 plan audit); values identical, oracle re-proven
      val kept = Dedup.dedupAgainstExact(stripped(1), stripped(0), "text_plain")
        .withColumn("quality", graft.functions.Kernels.once(
          TextFunctions.qualityScore(col("text_plain"))))
        .filter(col("quality") >= 0.5)
      CrysFrame(kept.groupBy(col("lang"))
          .agg(F.count(lit(1)).as("n_kept"),
            F.sum(round(col("quality") * lit(1e4), 0).cast("long")).as("q_micro")))
        .sortBy("lang").out
    }),

    // end-to-end training-data pipeline in ONE plan: quality filter →
    // exact dedup (min-id per content hash) → per-language stats.
    // Every aggregate is order-insensitive-exact (counts, int sums,
    // min/max of identical 4-dp doubles) so the composite stays
    // hash-stable; a mean would sum doubles in engine-dependent order
    "q_pipeline" -> ((s, d) => {
      // Kernels.once blocks the filter-pushdown expansion of the score
      // formula (see q_ingest_pipeline) — quality evaluates once per row
      val scored = t(s, d, "documents")
        .withColumn("quality", graft.functions.Kernels.once(
          TextFunctions.qualityScore(col("text"))))
        .filter(col("quality") >= 0.67)
      val kept = Dedup.exactByContentHash(scored, "doc_id", "text")
      CrysFrame(kept
        .select(col("lang"), col("quality"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("__tok"))
        .groupBy(col("lang"))
        .agg(F.count(lit(1)).as("n_docs"),
          F.sum(col("__tok")).as("total_tokens"),
          F.min(col("quality")).as("min_quality"),
          F.max(col("quality")).as("max_quality")))
        .sortBy("lang").out
    }),

    // ---------------- extensions: multimodal ----------------
    // header sniffing (mime/dims/duration) AND the feature column are
    // REAL byte-level work for BMP/PNG/GIF pixels and PCM-WAV samples
    // (pure JVM decodes, golden-pinned in ReadersExtensionsSpec); only
    // codec-requiring formats take the deterministic stub features
    // the library op returns feature as array<float>; the driver compare
    // loads parquet into pandas, which cannot sort/hash ndarray cells —
    // so the driver-facing projection ships only SCALAR summaries of the
    // decoded features (dim, L2 norm, 64-bit digest of the rounded
    // components), all derived in-plan from the real decode output
    "q_multimodal" -> ((s, d) => {
      // localCheckpoint (eager), not persist: the plan references the
      // frame in three branches (sniff / features / resize) — uncached,
      // every synthetic payload (incl. ImageIO JPEG encodes) would be
      // generated three times. A persist would do the same job but
      // leak a CacheManager entry past the query's lifetime (the
      // caller executes the returned frame AFTER this builder returns,
      // so no try/finally can pair it); the checkpoint's RDD blocks are
      // reaped by the ContextCleaner once the result is dropped, and
      // the cache registry stays clean (spec-pinned)
      val media = Multimodal.syntheticMedia(s, 200).localCheckpoint()
      val meta = Multimodal.sniffMetadata(media)
      val fcol = col("feature")
      val featD = transform(fcol, f => f.cast("double"))
      // r10 structural certificate riding the kept column: every row
      // must carry exactly the requested 8-dim feature vector (real
      // decode or the deterministic stub — NEVER null/ragged) and a
      // finite non-negative norm; a decode path emitting anything
      // else raises in-query instead of shipping a rows-only answer
      val feats = Multimodal.extractFeatures(media, dim = 8)
        .select(col("media_id"),
          when(fcol.isNull || size(fcol) =!= 8,
            raise_error(concat(
              lit("extractFeatures certificate violated (null or dim != 8) at media_id="),
              col("media_id").cast("string"))).cast("int"))
            .otherwise(size(fcol)).as("feature_dim"),
          round(sqrt(aggregate(featD, lit(0.0), (acc, f) => acc + f * f)), 4)
            .as("feature_norm"),
          xxhash64(concat_ws(",",
            transform(featD, f => F.round(f, 4).cast("string"))))
            .as("feature_digest"))
      // resize stage: decodable images re-emitted as 16x12 PNGs —
      // surfaced as the resampled-pixel digest (scalar for the pandas
      // compare, and independent of the JDK's zlib, unlike the
      // deflated payload length)
      val resized = Multimodal.resizeImages(media, 16, 12)
        .select(col("media_id"), col("pixel_digest"))
      CrysFrame(meta.join(feats, Seq("media_id")).join(resized, Seq("media_id")))
        .sortBy("media_id").out
    }),

    // exact top-k frequent word bigrams at bounded memory
    // (ml.HeavyHitters): Misra–Gries sketch pass → broadcast recount →
    // in-band exactness certificate. The oracle is the plain
    // groupBy-count top-k — green PROVES the sketch path returns the
    // exact answer (the whole point of the operator); a distribution
    // too flat for the counter budget raises instead of approximating.
    // Bigrams, not words: the corpus vocab (~31 words) is degenerate,
    // bigrams (~900+ distinct) make candidate selection real
    "q_heavy_hitters" -> ((s, d) => {
      val bigrams = t(s, d, "documents")
        .select(TextFunctions.wsTokens(col("text")).as("__ws"))
        .select(explode_outer(when(size(col("__ws")) > 1, zip_with(
            slice(col("__ws"), lit(1), size(col("__ws")) - 1),
            slice(col("__ws"), lit(2), size(col("__ws")) - 1),
            (a, b) => concat(a, lit(" "), b))))
          .as("bigram"))
      CrysFrame(HeavyHitters.topKExact(
        bigrams, col("bigram"), k = 50, counters = 2048)).out
    }),

    // Z-order layout (sources.ZOrder): re-cluster lineitem along the
    // Morton curve of (l_partkey, l_suppkey), write, read back through
    // a 2-D box filter. The oracle filters the ORIGINAL table — green
    // proves the re-layout preserved the row set exactly (the skipping
    // effectiveness itself is pinned in ZOrderSpec's file-ranges tests)
    "q_zorder" -> ((s, d) => {
      val path = s"/tmp/graft_zorder_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      ZOrder.writeZOrdered(t(s, d, "lineitem"), path,
        Seq("l_partkey", "l_suppkey"), numFiles = 16)
      CrysFrame(s.read.parquet(path)
        .filter(col("l_partkey") <= 50 && col("l_suppkey") <= 5)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("l_quantity")))
        .sortBy("l_orderkey", "l_linenumber").out
    }),

    // Bloom-pruned semi-join (operators.BloomPrune): prune the lineitem
    // scan by a sketch of the urgent orders' keys before the exact
    // semi-join. The oracle is the plain IN-subquery — green proves the
    // runtime filter changed WHERE rows die, never WHICH rows survive
    "q_bloom_prune" -> ((s, d) => {
      val urgent = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      CrysFrame(BloomPrune.semiJoinPruned(
          t(s, d, "lineitem"), "l_orderkey", urgent, "o_orderkey",
          expectedItems = 1L << 20)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), F.sum(col("l_quantity")).as("sum_qty")))
        .sortBy("l_returnflag").out
    }),

    // Salted two-stage aggregation (operators.Skew.saltedAgg): the
    // whole lineitem table collapsing into 3 l_returnflag groups is
    // the hot-reducer shape AQE cannot split (it splits skewed JOIN
    // partitions, not skewed aggregation groups). The oracle is the
    // plain one-stage GROUP BY — green proves salting changes WHERE
    // partials accumulate (16 sub-keys per group), never the result.
    // Sums stay exact across the two stages: quantities are
    // integer-valued doubles, so accumulation order cannot matter.
    "q_skew_agg" -> ((s, d) =>
      CrysFrame(Skew.saltedAgg(t(s, d, "lineitem"), Seq("l_returnflag"),
          saltBuckets = 16,
          partials = Seq("__n" -> count(lit(1)),
            "__q" -> F.sum(col("l_quantity"))),
          merges = Seq("n" -> F.sum(col("__n")),
            "sum_qty" -> F.sum(col("__q")))))
        .sortBy("l_returnflag").out),

    // Salted replicated join (operators.Skew.saltedJoin): every
    // lineitem row hits one of 3 dim keys — a 100%-hot-key join
    // where an unsalted shuffle would land each key on ONE reducer
    // and broadcast may be infeasible for a wide-at-scale right side.
    // The oracle is the plain join — green proves the (key, salt)
    // rewrite with an exploded right side is row-for-row identical,
    // including multiplicity (the count would change if replication
    // duplicated or dropped a match).
    "q_skew_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val dim = li.groupBy(col("l_returnflag"))
        .agg(F.round(avg(col("l_quantity")), 6).as("rf_avg_qty"))
      CrysFrame(Skew.saltedJoin(
          li.select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_quantity")),
          dim, Seq("l_returnflag"), saltBuckets = 8)
        .filter(col("l_quantity") > col("rf_avg_qty"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n")))
        .sortBy("l_returnflag").out
    })
  )

  // =====================================================================
  // oracle SQL (DuckDB dialect) — same column names, same ordering
  // =====================================================================

  def oracleSql: Map[String, String] = Map(
    "q_select" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_reject" ->
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey",

    "q_rename" ->
      "SELECT n_nationkey AS id, n_name AS name FROM nation ORDER BY id",

    "q_move" ->
      """SELECT n_name, n_nationkey, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    "q_mutate" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |       * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
        |       AS DOUBLE) AS revenue,
        |  CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS bulk
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_transmute" ->
      """SELECT p_partkey,
        |  CASE WHEN p_retailprice >= 1500.0 THEN 'high' ELSE 'low' END AS price_band
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_add_row_number" ->
      """SELECT CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT) AS rn,
        |  s_suppkey, s_name FROM supplier ORDER BY s_suppkey""".stripMargin,

    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_filter_expr" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE regexp_matches(c_name, '11') AND c_acctbal IS NOT NULL
        |  AND c_acctbal > 1000.0
        |ORDER BY c_custkey""".stripMargin,

    "q_slice" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin,

    "q_take_last" ->
      """SELECT o_orderkey, o_totalprice FROM
        |  (SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey DESC LIMIT 50)
        |ORDER BY o_orderkey""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_sample" ->
      """SELECT c_mktsegment,
        |  CAST(least(20, count(*)) AS BIGINT) AS n_sampled,
        |  CAST(least(20, count(*)) AS BIGINT) AS n_ids
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_sample_frac" ->
      """SELECT c_mktsegment, CAST(round_even(0.3 * count(*), 0) AS BIGINT) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_sort" ->
      "SELECT * FROM nation ORDER BY n_name DESC",

    "q_sort_expr" ->
      """SELECT p_partkey, p_size, p_retailprice FROM part
        |ORDER BY p_retailprice * (100 - p_size) NULLS LAST, p_partkey NULLS LAST""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DECIMAL(28,4)) AS DOUBLE) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(l_quantity), 6) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(l_extendedprice), 6) AS avg_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_count" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_count_expr" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS group_by_1, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY group_by_1""".stripMargin,

    "q_summarize_at" ->
      """SELECT l_returnflag,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(l_quantity), 6) AS "l_quantity.mean",
        |  round(stddev_samp(l_quantity), 6) AS "l_quantity.sd",
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount), 6) AS "l_discount.mean",
        |  round(stddev_samp(l_discount), 6) AS "l_discount.sd"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_funcs" ->
      """SELECT l_linestatus,
        |  min(l_quantity) AS min_q, max(l_quantity) AS max_q,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(l_quantity), 6) AS mean_q,
        |  round(median(l_quantity), 6) AS median_q,
        |  round(stddev_samp(l_quantity), 6) AS sd_q,
        |  round(var_samp(l_quantity), 6) AS var_q,
        |  count(CASE WHEN l_quantity IS NULL THEN 1 END) AS na_q
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.10), 6) AS p10,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.90), 6) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin,

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST""".stripMargin,

    "q_count_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_rolling" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER w3, 4) AS roll_sum,
        |  max(value) OVER w3 AS roll_max
        |FROM events WHERE user_id < 20
        |WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_grouped_keys" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_lead_lag" ->
      """SELECT event_id, user_id, value,
        |  lag(value) OVER w AS prev_value,
        |  lead(value) OVER w AS next_value,
        |  lag(value, 2, -1.0) OVER w AS prev2
        |FROM events WHERE user_id < 50
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q_cumsum" ->
      """SELECT event_id, user_id,
        |  round(CASE WHEN max(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |  THEN NULL ELSE sum(value)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END, 4) AS running
        |FROM events WHERE user_id < 50 ORDER BY event_id""".stripMargin,

    "q_pct_change" ->
      """SELECT event_id, user_id,
        |  round(value / lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1, 6) AS chg
        |FROM events WHERE user_id < 50 ORDER BY event_id""".stripMargin,

    "q_rank" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS INTEGER) AS bal_rank
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_row_number_grouped" ->
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn
        |FROM events WHERE user_id < 50 ORDER BY event_id""".stripMargin,

    "q_window_global" ->
      """WITH e AS (SELECT event_id, ts, value FROM events WHERE user_id < 30)
        |SELECT event_id,
        |  CASE WHEN max(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |         OVER (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |       THEN NULL
        |       ELSE CAST(sum(CAST(value AS DECIMAL(18,6)))
        |         OVER (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) END AS running,
        |  lag(value, 1) OVER (ORDER BY ts, event_id) AS prev_value,
        |  lead(value, 2, -1.0) OVER (ORDER BY ts, event_id) AS next2,
        |  CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS rn,
        |  CAST(sum(CAST(value AS DECIMAL(18,6)))
        |    OVER (ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll3,
        |  CAST(rank() OVER (ORDER BY value DESC NULLS LAST) AS BIGINT) AS rk
        |FROM e ORDER BY event_id""".stripMargin,

    "q_join_inner" ->
      """SELECT n_name,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DECIMAL(28,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_join_right" ->
      """SELECT c_custkey AS o_custkey, count(o_orderkey) AS n_orders
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY o_custkey""".stripMargin,

    "q_join_outer" ->
      """SELECT COALESCE(a.custkey, b.custkey) AS custkey, a.n_orders, b.c_acctbal
        |FROM (SELECT o_custkey AS custkey, count(*) AS n_orders FROM orders GROUP BY 1) a
        |FULL OUTER JOIN (SELECT c_custkey AS custkey, c_acctbal FROM customer WHERE c_acctbal < 0) b
        |  ON a.custkey = b.custkey
        |ORDER BY custkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_unequal" ->
      """SELECT s_suppkey, s_name, n_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey ORDER BY s_suppkey""".stripMargin,

    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q_join_suffixes" ->
      """SELECT a.c_custkey, a.c_acctbal AS "c_acctbal.x", b.c_acctbal AS "c_acctbal.y"
        |FROM customer a JOIN customer b ON a.c_custkey = b.c_custkey
        |WHERE a.c_custkey < 100 ORDER BY a.c_custkey""".stripMargin,

    "q_bind_rows" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal, 'cust' AS side FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, s_name AS name, CAST(NULL AS DOUBLE) AS acctbal, 'supp' AS side FROM supplier
        |ORDER BY side, id""".stripMargin,

    "q_bind_cols" ->
      """SELECT a.c_custkey, a.c_name, b.c_acctbal, b.c_custkey AS c_custkey_1
        |FROM (SELECT c_custkey, c_name, row_number() OVER (ORDER BY c_custkey) AS rn FROM customer) a
        |JOIN (SELECT c_acctbal, c_custkey, row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rn FROM customer) b
        |  USING (rn)
        |ORDER BY a.c_custkey""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey FROM orders
        |INTERSECT SELECT c_custkey FROM customer
        |ORDER BY o_custkey""".stripMargin,

    "q_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT o_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin,

    "q_spread" ->
      """SELECT o_orderstatus,
        |  max(CASE WHEN o_orderpriority = '1-URGENT' THEN n END) AS "1-URGENT",
        |  max(CASE WHEN o_orderpriority = '2-HIGH' THEN n END) AS "2-HIGH",
        |  max(CASE WHEN o_orderpriority = '3-MEDIUM' THEN n END) AS "3-MEDIUM",
        |  max(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN n END) AS "4-NOT SPECIFIED",
        |  max(CASE WHEN o_orderpriority = '5-LOW' THEN n END) AS "5-LOW"
        |FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders GROUP BY 1, 2)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_spread_fill" ->
      """SELECT o_orderstatus,
        |  COALESCE(max(CASE WHEN o_orderpriority = '1-URGENT' THEN n END), 0) AS "1-URGENT",
        |  COALESCE(max(CASE WHEN o_orderpriority = '2-HIGH' THEN n END), 0) AS "2-HIGH",
        |  COALESCE(max(CASE WHEN o_orderpriority = '3-MEDIUM' THEN n END), 0) AS "3-MEDIUM",
        |  COALESCE(max(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN n END), 0) AS "4-NOT SPECIFIED",
        |  COALESCE(max(CASE WHEN o_orderpriority = '5-LOW' THEN n END), 0) AS "5-LOW"
        |FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders
        |      WHERE NOT (o_orderstatus = 'F' AND o_orderpriority = '1-URGENT')
        |      GROUP BY 1, 2)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_gather" ->
      """SELECT p_partkey, 'p_size' AS key, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS key, p_retailprice AS value FROM part
        |ORDER BY p_partkey, key""".stripMargin,

    "q_separate" ->
      """SELECT c_custkey,
        |  string_split(c_name, '#')[1] AS cust_prefix,
        |  string_split(c_name, '#')[2] AS cust_num
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_unite" ->
      """SELECT n_nationkey,
        |  concat(COALESCE(CAST(n_name AS VARCHAR), 'NA'), '_',
        |         COALESCE(CAST(n_regionkey AS VARCHAR), 'NA')) AS nation_region
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_nest_unnest" ->
      """SELECT n_regionkey, n_nationkey, n_name FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    "q_unnest_array" ->
      """SELECT vec_id,
        |  CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
        |  unnest(embedding) AS val
        |FROM embeddings WHERE vec_id < 100
        |ORDER BY vec_id, pos""".stripMargin,

    "q_expand" ->
      """SELECT a.l_returnflag, b.l_linestatus
        |FROM (SELECT DISTINCT l_returnflag FROM lineitem) a
        |CROSS JOIN (SELECT DISTINCT l_linestatus FROM lineitem) b
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_complete" ->
      """SELECT a.l_returnflag, b.l_linestatus, c.n
        |FROM (SELECT DISTINCT l_returnflag FROM lineitem) a
        |CROSS JOIN (SELECT DISTINCT l_linestatus FROM lineitem) b
        |LEFT JOIN (SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem GROUP BY 1, 2) c
        |  ON a.l_returnflag = c.l_returnflag AND b.l_linestatus = c.l_linestatus
        |ORDER BY a.l_returnflag, b.l_linestatus""".stripMargin,

    "q_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "q_json_roundtrip" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // kept classes only (doc_id % 4 IN (1, 2) of the % 5 = 0 slice):
    // class 0 is robots-blocked, class 3 is a noindex page; the
    // canonical urls are written as LITERALS (the expected output of
    // canonicalizeUrl on the fixture urls) and the text goes through
    // q_strip_html's strip-chain mirror on the identical wrapper
    "q_warc_ingest" ->
      """WITH sub AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id % 4 IN (1, 2)),
        |h AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 1
        |         THEN 'http://example.com/private/pub/' || CAST(doc_id AS VARCHAR)
        |         ELSE 'http://example.com/Docs/' || CAST(doc_id AS VARCHAR)
        |              || '?id=' || CAST(doc_id AS VARCHAR) END AS url_canon,
        |    '<html><head><title>d</title><style type="text/css">p { color: #333; }</style></head><body><h1 class="hd">'
        |    || lang || '</h1><!-- note --><p>' || text ||
        |    '</p><script>if (1 &lt; 2) { x = 1; }</script><div>tail &amp;amp; &quot;q&quot;&nbsp;&#39;e&#39; &amp; &lt;b&gt;</div></body></html>'
        |    AS html
        |  FROM sub),
        |s AS (SELECT url_canon, trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    html,
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS text_plain
        |  FROM h)
        |SELECT url_canon, text_plain,
        |  CAST(length(text_plain) AS BIGINT) AS n_plain
        |FROM s ORDER BY url_canon""".stripMargin,

    "q_asof_join" ->
      """SELECT a.event_id, a.user_id, a.value, b.value AS last_purchase_value
        |FROM (SELECT event_id, user_id, ts, value FROM events WHERE user_id < 100) a
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |                WHERE event_type = 'purchase' AND user_id < 100) b
        |  ON a.user_id = b.user_id AND a.ts >= b.ts
        |ORDER BY a.event_id""".stripMargin,

    "q_time_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour, event_type, count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q_hopping_window" ->
      """WITH hopped AS (
        |  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v,
        |    CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - k * 900 AS win_start
        |  FROM events CROSS JOIN unnest(range(0, 4)) AS t(k)
        |  WHERE ts IS NOT NULL)
        |SELECT CAST(win_start AS BIGINT) AS win_start, event_type,
        |  count(*) AS n,
        |  CAST(CAST(sum(v) AS DECIMAL(28,2)) AS DOUBLE) AS sum_value
        |FROM hopped GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin,

    "q_datasheet" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS total_chars,
        |  CAST(sum(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) END)
        |    AS BIGINT) AS total_tokens,
        |  round(quantile_cont(CAST(coalesce(length(text), 0) AS BIGINT), 0.5), 6) AS p50_chars,
        |  round(quantile_cont(CAST(coalesce(length(text), 0) AS BIGINT), 0.95), 6) AS p95_chars,
        |  CAST(count(DISTINCT regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g'))
        |    AS BIGINT) AS distinct_docs,
        |  round(CAST(count(*) - count(DISTINCT regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g'))
        |    AS DOUBLE) / greatest(count(*), 1), 6) AS dup_fraction
        |FROM documents""".stripMargin,

    "q_datasheet_lang" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) END)
        |    AS BIGINT) AS total_tokens,
        |  round(CAST(count(*) AS DOUBLE) /
        |    greatest((SELECT count(*) FROM documents), 1), 6) AS share
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_snapshot_diff" ->
      """WITH oldc AS (SELECT doc_id, text FROM documents),
        |newc AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 5 THEN text || ' [edited]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 13 = 0),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |  FROM oldc o FULL OUTER JOIN newc n ON o.doc_id = n.doc_id)
        |SELECT doc_id, status FROM j WHERE status <> 'unchanged'
        |ORDER BY doc_id""".stripMargin,

    "q_pipeline_audit" ->
      """WITH g1 AS (SELECT * FROM documents WHERE n_chars >= 200),
        |g2 AS (SELECT * FROM g1 WHERE lang = 'en'),
        |g3 AS (SELECT * FROM g2 WHERE (CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\s+')) END) >= 30)
        |SELECT 'g1_chars' AS gate,
        |  (SELECT count(*) FROM documents) AS rows_in,
        |  (SELECT count(*) FROM g1) AS rows_out
        |UNION ALL SELECT 'g2_english',
        |  (SELECT count(*) FROM g1), (SELECT count(*) FROM g2)
        |UNION ALL SELECT 'g3_tokens',
        |  (SELECT count(*) FROM g2), (SELECT count(*) FROM g3)
        |ORDER BY gate""".stripMargin,

    "q_topk_rows" ->
      """SELECT event_type, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL) t
        |WHERE rn <= 5 ORDER BY event_type, event_id""".stripMargin,

    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_index
        |  FROM flagged)
        |SELECT user_id, CAST(session_index AS BIGINT) AS session_index,
        |  epoch_us(min(ts)) // 1000000 AS start_s,
        |  epoch_us(max(ts)) // 1000000 AS end_s,
        |  count(*) AS n_events,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_index
        |ORDER BY user_id, session_index""".stripMargin,

    "q_approx_distinct" ->
      """SELECT lang, count(DISTINCT text) AS n_distinct
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN ((doc_id * 2654435761 + 42) % 2147483647 + 0.5) / 2147483647 < 0.9 THEN 'train'
        |       WHEN ((doc_id * 2654435761 + 42) % 2147483647 + 0.5) / 2147483647 < 0.95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // leakage-safe split: labels via the q_cc_labels recursive
    // closure, then the q_hash_split CASE arithmetic on the LABEL
    "q_split_leakage" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents WHERE doc_id < 200),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(norm) - 5, 0) + 2),
        |      i -> substring(norm, CAST(i AS INTEGER), 5))) AS sh
        |  FROM docs),
        |scored AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM scored
        |  WHERE CAST(inter AS DOUBLE) / uni >= 0.25),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM pairs),
        |walk(id, reach) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach),
        |labels AS (SELECT id, min(reach) AS label FROM walk GROUP BY id),
        |lab AS (
        |  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS label
        |  FROM docs d LEFT JOIN labels l ON l.id = d.doc_id)
        |SELECT doc_id,
        |  CASE WHEN ((label * 2654435761 + 42) % 2147483647 + 0.5) / 2147483647 < 0.9 THEN 'train'
        |       WHEN ((label * 2654435761 + 42) % 2147483647 + 0.5) / 2147483647 < 0.95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM lab ORDER BY doc_id""".stripMargin,

    "q_weighted_sample" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY -ln(((doc_id * 2654435761 + 42) % 2147483647 + 0.5) / 2147483647) / n_chars,
        |             doc_id) AS rn
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
        |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,

    "q_stratified_sample" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY (doc_id * 2654435761 + 42) % 2147483647, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,

    // targets are data-independent integer constants:
    // 200 * round(w*1e6) / 1_000_000, floor division
    "q_mixture_exact" ->
      """WITH w(lang, tgt) AS (VALUES ('de', 30), ('en', 80), ('es', 10),
        |                             ('fr', 20), ('zh', 60))
        |SELECT lang, doc_id FROM (
        |  SELECT d.lang, d.doc_id, tgt, row_number() OVER (PARTITION BY d.lang
        |    ORDER BY (d.doc_id * 2654435761 + 42) % 2147483647, d.doc_id) AS rn
        |  FROM documents d JOIN w USING (lang))
        |WHERE rn <= tgt ORDER BY lang, doc_id""".stripMargin,

    "q_range_join" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |labeled AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_index
        |  FROM flagged),
        |sessions AS (
        |  SELECT user_id, CAST(session_index AS BIGINT) AS session_index,
        |    epoch_us(min(ts)) // 1000000 AS start_s,
        |    epoch_us(max(ts)) // 1000000 AS end_s
        |  FROM labeled GROUP BY user_id, session_index),
        |points AS (
        |  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ts_s
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT p.event_id, s.session_index
        |FROM points p JOIN sessions s
        |  ON p.user_id = s.user_id
        | AND p.ts_s >= s.start_s AND p.ts_s <= s.end_s
        |ORDER BY p.event_id""".stripMargin,

    "q_interval_join" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |labeled AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_index
        |  FROM flagged),
        |sessions AS (
        |  SELECT user_id, CAST(session_index AS BIGINT) AS session_index,
        |    epoch_us(min(ts)) // 1000000 AS start_s,
        |    epoch_us(max(ts)) // 1000000 AS end_s
        |  FROM labeled GROUP BY user_id, session_index)
        |SELECT a.user_id AS a_user, a.session_index AS a_session,
        |  b.user_id AS b_user, b.session_index AS b_session
        |FROM sessions a JOIN sessions b
        |  ON (a.user_id % 2) = 0 AND (b.user_id % 2) = 1
        | AND a.start_s <= b.end_s AND b.start_s <= a.end_s
        |ORDER BY a_user, a_session, b_user, b_session""".stripMargin,

    "q_pack" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS tok,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        |walk AS (
        |  SELECT doc_id, lang, tok, rn, CAST(0 AS BIGINT) AS bin_index, tok AS cum
        |  FROM toks WHERE rn = 1
        |  UNION ALL
        |  SELECT t.doc_id, t.lang, t.tok, t.rn,
        |    CASE WHEN w.cum + t.tok > 2048 THEN w.bin_index + 1 ELSE w.bin_index END,
        |    CASE WHEN w.cum + t.tok > 2048 THEN t.tok ELSE w.cum + t.tok END
        |  FROM toks t JOIN walk w ON t.lang = w.lang AND t.rn = w.rn + 1)
        |SELECT doc_id, lang, bin_index FROM walk ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars, row_number() OVER (
        |    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |    ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // the Spark side anti-joins on xxhash64 of the normalized text;
    // the oracle anti-joins on the normalized text itself — equivalent
    // absent 64-bit collisions (same equivalence q_dedup_exact rests on)
    "q_dedup_against" ->
      """SELECT b.doc_id, b.lang, b.n_chars FROM documents b
        |WHERE b.doc_id % 2 = 1 AND NOT EXISTS (
        |  SELECT 1 FROM documents c WHERE c.doc_id % 2 = 0 AND
        |    regexp_replace(lower(trim(c.text)), '\s+', ' ', 'g') =
        |    regexp_replace(lower(trim(b.text)), '\s+', ' ', 'g'))
        |ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens_ws
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_token_stats" ->
      """SELECT lang,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_lang_id" ->
      """WITH hits AS (
        |  SELECT doc_id, text,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}'']+'),
        |      t -> list_contains(['the','and','of','to','in','is','that','it','was','for','with','as','his','on','be','at','by','had','not','are'], t))) AS h_en,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}'']+'),
        |      t -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','von','zu','den','dem','auf','für','im','sich','des'], t))) AS h_de,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}'']+'),
        |      t -> list_contains(['le','la','les','et','est','dans','que','pour','une','un','du','des','avec','sur','pas','au','ce','il'], t))) AS h_fr,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}'']+'),
        |      t -> list_contains(['el','la','los','las','y','es','en','que','por','para','una','un','del','con','no','se','su','al'], t))) AS h_es
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN regexp_matches(text, '\p{Han}') THEN 'zh'
        |       WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
        |       WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
        |       WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
        |       WHEN h_fr >= h_es THEN 'fr'
        |       ELSE 'es' END AS pred_lang
        |FROM hits ORDER BY doc_id""".stripMargin,

    "q_embed_dedup" ->
      """SELECT vec_id FROM embeddings e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM embeddings b
        |  WHERE b.vec_id < e.vec_id
        |    AND round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |                                     CAST(e.embedding AS DOUBLE[])), 6) >= 0.45)
        |ORDER BY vec_id""".stripMargin,

    "q_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        |FROM embeddings a
        |CROSS JOIN embeddings b
        |WHERE a.vec_id < 20 AND b.vec_id >= 20 AND b.vec_id < 40
        |ORDER BY id_a, id_b""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
        |                     x -> CAST(ascii(x) AS BIGINT))),
        |    (acc, v) -> (acc * 31 + v) % 9007199254740881) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_pipeline" ->
      """WITH parts AS (
        |  SELECT doc_id, lang, text,
        |    CAST(length(text) AS DOUBLE) AS nchars,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}'']+'),
        |                         t -> len(t) > 0)) AS DOUBLE) AS ntok,
        |    CAST(len(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}'']+'),
        |                                       t -> len(t) > 0))) AS DOUBLE) AS nuniq,
        |    CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE) AS alpha,
        |    CASE WHEN regexp_matches(text, '[.!?]["'')\]]?\s*$') THEN 1.0 ELSE 0.0 END AS term
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, lang, text,
        |    round(((alpha / greatest(nchars, 1.0))
        |         + (nuniq / greatest(ntok, 1.0))
        |         + term
        |         + (CASE WHEN ntok >= 5 AND ntok <= 100000 THEN 1.0 ELSE 0.0 END)
        |         + (CASE WHEN alpha / greatest(ntok, 1.0) >= 2
        |                  AND alpha / greatest(ntok, 1.0) <= 12 THEN 1.0 ELSE 0.0 END)) / 5.0,
        |          4) AS quality
        |  FROM parts),
        |filtered AS (SELECT * FROM scored WHERE quality >= 0.67),
        |kept AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |      ORDER BY doc_id) AS rn
        |    FROM filtered) WHERE rn = 1)
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |           ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT)
        |    AS total_tokens,
        |  min(quality) AS min_quality,
        |  max(quality) AS max_quality
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    // chunk CTEs feed the BM25 CTEs: N/avgdl/df are over CHUNKS
    "q_rag_pipeline" ->
      """WITH d0 AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents),
        |n0 AS (SELECT doc_id, toks,
        |  greatest(1, CAST(floor((len(toks) - 16 + 48 - 1) / 48.0) AS BIGINT)) AS nc
        |  FROM d0),
        |ch AS (SELECT doc_id, unnest(range(0, nc)) AS chunk_id, toks FROM n0),
        |chunks AS (SELECT doc_id * 1000 + chunk_id AS chunk_uid,
        |  list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64) AS ctoks FROM ch),
        |dl AS (SELECT chunk_uid, len(ctoks) AS dl FROM chunks),
        |stats AS (SELECT count(*) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |tok AS (SELECT chunk_uid, unnest(ctoks) AS term FROM chunks),
        |q(query_id, qtext) AS (VALUES
        |  (0, 'hash join table'), (1, 'window agg stream batch'),
        |  (2, 'slow query filter')),
        |qt AS (SELECT DISTINCT query_id, term FROM
        |  (SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM q)),
        |tf AS (
        |  SELECT chunk_uid, term, count(*) AS tf FROM tok
        |  WHERE term IN (SELECT term FROM qt) GROUP BY chunk_uid, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |contrib AS (
        |  SELECT qt.query_id, tf.chunk_uid,
        |    CAST(round(1e6 *
        |      ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
        |      (tf.tf * (1.2 + 1.0)) /
        |      (tf.tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl.dl) / stats.avgdl)),
        |      0) AS BIGINT) AS ci
        |  FROM tf JOIN dfreq USING (term) JOIN qt USING (term)
        |  JOIN dl ON tf.chunk_uid = dl.chunk_uid CROSS JOIN stats),
        |score AS (SELECT query_id, chunk_uid, CAST(sum(ci) AS BIGINT) AS score_micro
        |          FROM contrib GROUP BY query_id, chunk_uid)
        |SELECT CAST(query_id AS BIGINT) AS query_id, chunk_uid, score_micro, rank
        |FROM (SELECT query_id, chunk_uid, score_micro,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY score_micro DESC, chunk_uid) AS BIGINT) AS rank
        |      FROM score)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents WHERE doc_id < 100),
        |n AS (SELECT doc_id, toks,
        |  greatest(1, CAST(floor((len(toks) - 16 + 48 - 1) / 48.0) AS BIGINT)) AS nc
        |  FROM d),
        |c AS (SELECT doc_id, unnest(range(0, nc)) AS chunk_id, toks FROM n)
        |SELECT doc_id, chunk_id,
        |  CAST(len(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS BIGINT)
        |    AS n_chunk_tokens,
        |  array_to_string(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ')
        |    AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q_lm_bigram" ->
      """WITH tr AS (
        |  SELECT list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents WHERE lang = 'en'),
        |uni AS (SELECT term, count(*) AS ctx FROM
        |  (SELECT unnest(toks) AS term FROM tr) GROUP BY term),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        |bic AS (
        |  SELECT pair, count(*) AS cnt FROM (
        |    SELECT unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS pair
        |    FROM tr WHERE len(toks) >= 2)
        |  GROUP BY pair),
        |d AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS pair
        |  FROM d WHERE len(toks) >= 2),
        |c AS (
        |  SELECT g.doc_id,
        |    CAST(round(-1e6 * ln((coalesce(bic.cnt, 0) + 1.0) /
        |      (coalesce(uni.ctx, 0) + tot.v)), 0) AS BIGINT) AS ci
        |  FROM g
        |  LEFT JOIN bic ON g.pair = bic.pair
        |  LEFT JOIN uni ON string_split(g.pair, ' ')[1] = uni.term
        |  CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(sum(ci) AS BIGINT) AS surprisal_micro
        |        FROM c GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(greatest(len(d.toks) - 1, 0) AS BIGINT) AS n_transitions,
        |  CAST(coalesce(a.surprisal_micro, 0) AS BIGINT) AS surprisal_micro,
        |  CASE WHEN len(d.toks) >= 2 THEN
        |    CAST(a.surprisal_micro AS DOUBLE) / 1e6 / CAST(len(d.toks) - 1 AS DOUBLE)
        |  ELSE 0.0 END AS xent
        |FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_lm_score" ->
      """WITH tr AS (
        |  SELECT list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents WHERE lang = 'en'),
        |vocab AS (
        |  SELECT term, count(*) AS cnt FROM
        |    (SELECT unnest(toks) AS term FROM tr) GROUP BY term),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |               CAST(count(*) AS BIGINT) AS v FROM vocab),
        |d AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term FROM d),
        |c AS (
        |  SELECT g.doc_id, g.n_tokens,
        |    CAST(round(-1e6 * ln((coalesce(vocab.cnt, 0) + 1.0) / (tot.total + tot.v)),
        |      0) AS BIGINT) AS ci
        |  FROM g LEFT JOIN vocab ON g.term = vocab.term CROSS JOIN tot),
        |agg AS (
        |  SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(sum(ci) AS BIGINT) AS surprisal_micro
        |  FROM c GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(a.surprisal_micro, 0) AS BIGINT) AS surprisal_micro,
        |  CASE WHEN coalesce(a.n_tokens, 0) > 0 THEN
        |    CAST(a.surprisal_micro AS DOUBLE) / 1e6 / CAST(a.n_tokens AS DOUBLE)
        |  ELSE 0.0 END AS xent
        |FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_nb_score" ->
      """WITH tr AS (
        |  SELECT (lang = 'en') AS pos, list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents),
        |vocab AS (
        |  SELECT term,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
        |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
        |  FROM (SELECT pos, unnest(toks) AS term FROM tr) GROUP BY term),
        |tot AS (SELECT
        |    CAST(coalesce(sum(c_pos), 0) AS BIGINT) AS tpos,
        |    CAST(coalesce(sum(c_neg), 0) AS BIGINT) AS tneg,
        |    CAST(count(*) AS BIGINT) AS v FROM vocab),
        |pri AS (SELECT CAST(round(1e6 * (
        |    ln(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)) -
        |    ln(CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS DOUBLE))), 0)
        |  AS BIGINT) AS prior FROM tr),
        |d AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term FROM d),
        |c AS (
        |  SELECT g.doc_id, g.n_tokens,
        |    CAST(round(1e6 * (
        |      ln((coalesce(vocab.c_pos, 0) + 1.0) / (tot.tpos + tot.v)) -
        |      ln((coalesce(vocab.c_neg, 0) + 1.0) / (tot.tneg + tot.v))), 0)
        |      AS BIGINT) AS ci
        |  FROM g LEFT JOIN vocab ON g.term = vocab.term CROSS JOIN tot),
        |agg AS (
        |  SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(sum(ci) AS BIGINT) AS llr_micro
        |  FROM c GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(a.llr_micro, 0) AS BIGINT) AS llr_micro,
        |  CAST(pri.prior + coalesce(a.llr_micro, 0) AS BIGINT) AS score_micro,
        |  CAST(CASE WHEN pri.prior + coalesce(a.llr_micro, 0) > 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS pred
        |FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id CROSS JOIN pri
        |ORDER BY d.doc_id""".stripMargin,

    "q_curation" ->
      """WITH tr AS (
        |  SELECT (lang = 'en') AS pos, list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents),
        |vocab AS (
        |  SELECT term,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
        |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
        |  FROM (SELECT pos, unnest(toks) AS term FROM tr) GROUP BY term),
        |tot AS (SELECT
        |    CAST(coalesce(sum(c_pos), 0) AS BIGINT) AS tpos,
        |    CAST(coalesce(sum(c_neg), 0) AS BIGINT) AS tneg,
        |    CAST(count(*) AS BIGINT) AS v FROM vocab),
        |pri AS (SELECT CAST(round(1e6 * (
        |    ln(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)) -
        |    ln(CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS DOUBLE))), 0)
        |  AS BIGINT) AS prior FROM tr),
        |d AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term FROM d),
        |c AS (
        |  SELECT g.doc_id, g.n_tokens,
        |    CAST(round(1e6 * (
        |      ln((coalesce(vocab.c_pos, 0) + 1.0) / (tot.tpos + tot.v)) -
        |      ln((coalesce(vocab.c_neg, 0) + 1.0) / (tot.tneg + tot.v))), 0)
        |      AS BIGINT) AS ci
        |  FROM g LEFT JOIN vocab ON g.term = vocab.term CROSS JOIN tot),
        |agg AS (
        |  SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(sum(ci) AS BIGINT) AS llr_micro
        |  FROM c GROUP BY doc_id),
        |scored AS (
        |  SELECT d.doc_id, CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens
        |  FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id CROSS JOIN pri
        |  WHERE pri.prior + coalesce(a.llr_micro, 0) > 0)
        |SELECT doc.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(s.n_tokens) AS BIGINT) AS kept_tokens
        |FROM scored s JOIN documents doc ON s.doc_id = doc.doc_id
        |GROUP BY doc.source ORDER BY doc.source""".stripMargin,

    "q_tfidf_keywords" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(round(1e6 * tf.tf *
        |      (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 0) AS BIGINT)
        |      AS tfidf_micro
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tfidf_micro, rank FROM (
        |  SELECT doc_id, term, tfidf_micro,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf_micro DESC, term) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 5 AND doc_id < 50 ORDER BY doc_id, rank""".stripMargin,

    "q_shard_assign" ->
      """SELECT doc_id,
        |  ((doc_id * 2654435761 + 42) % 2147483647) % 8 AS shard
        |FROM documents ORDER BY doc_id""".stripMargin,

    // curriculum banding: 0-based rank under (score, id), shard =
    // rank * nShards // n — integer floor, same arithmetic any engine
    "q_curriculum" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS score FROM documents),
        |r AS (
        |  SELECT doc_id, score,
        |    CAST(row_number() OVER (ORDER BY score, doc_id) - 1 AS BIGINT) AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM s)
        |SELECT doc_id, score, (rk * 4) // n AS shard
        |FROM r ORDER BY doc_id""".stripMargin,

    // composes the PROVEN q_bm25 and q_ann_topk oracle machinery
    // (restricted to the docs ⋈ embeddings corpus), then fuses with
    // integer micro-unit RRF terms — order-independent exact
    "q_hybrid_search" ->
      """WITH docs0 AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IN (SELECT vec_id FROM embeddings)),
        |d AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM docs0),
        |dl AS (SELECT doc_id, len(toks) AS dl FROM d),
        |stats AS (SELECT count(*) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |q(query_id, qtext) AS (VALUES
        |  (0, 'hash join table'), (1, 'window agg stream batch'),
        |  (2, 'slow query filter')),
        |qt AS (SELECT DISTINCT query_id, term FROM
        |  (SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM q)),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |contrib AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    CAST(round(1e6 *
        |      ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
        |      (tf.tf * (1.2 + 1.0)) /
        |      (tf.tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl.dl) / stats.avgdl)),
        |      0) AS BIGINT) AS ci
        |  FROM tf JOIN dfreq USING (term) JOIN qt USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        |score AS (SELECT query_id, doc_id, CAST(sum(ci) AS BIGINT) AS score_micro
        |          FROM contrib GROUP BY query_id, doc_id),
        |lex AS (SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |      CAST(row_number() OVER (PARTITION BY query_id
        |        ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
        |    FROM score) WHERE rank <= 20),
        |sem AS (SELECT query_id, doc_id, rank FROM (
        |    SELECT qe.vec_id AS query_id, c.vec_id AS doc_id,
        |      CAST(row_number() OVER (PARTITION BY qe.vec_id
        |        ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                   CAST(qe.embedding AS DOUBLE[])) DESC,
        |                 c.vec_id) AS BIGINT) AS rank
        |    FROM embeddings c
        |    CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) qe
        |    WHERE c.vec_id IN (SELECT doc_id FROM docs0)) WHERE rank <= 20),
        |fused AS (
        |  SELECT coalesce(l.query_id, s.query_id) AS query_id,
        |    coalesce(l.doc_id, s.doc_id) AS doc_id,
        |    coalesce(CAST(round(1e6 / (60.0 + l.rank), 0) AS BIGINT), 0) +
        |    coalesce(CAST(round(1e6 / (60.0 + s.rank), 0) AS BIGINT), 0) AS rrf_micro
        |  FROM lex l FULL OUTER JOIN sem s
        |    ON l.query_id = s.query_id AND l.doc_id = s.doc_id)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rrf_micro, rank FROM (
        |  SELECT query_id, doc_id, rrf_micro,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank
        |  FROM fused)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_temperature_sample" ->
      """WITH n AS (SELECT lang, count(*) AS ns,
        |             CAST(round(pow(ns, 0.5) * 1e6, 0) AS BIGINT) AS pw
        |           FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |t AS (SELECT CAST(sum(ns) AS BIGINT) AS nn,
        |             CAST(sum(pw) AS BIGINT) AS sp FROM n),
        |p AS (SELECT lang,
        |    CAST(round(least(1.0,
        |        0.5 * CAST(nn AS DOUBLE) * CAST(pw AS DOUBLE) /
        |        (CAST(sp AS DOUBLE) * CAST(ns AS DOUBLE))) * 1e6, 0)
        |      AS BIGINT) AS pm
        |  FROM n CROSS JOIN t)
        |SELECT d.doc_id, d.lang FROM documents d JOIN p USING (lang)
        |WHERE ((d.doc_id * 2654435761 + 42) % 2147483647) * 2000000 + 1000000
        |      < pm * 4294967294
        |ORDER BY d.doc_id""".stripMargin,

    // same integer-draw recipe as q_temperature_sample, with the
    // shares EXPLICIT: micro-quantized weights (sum 1e6) instead of
    // pow(n, alpha)-derived ones; IEEE op order mirrors mixtureResample
    "q_mixture_resample" ->
      """WITH w(lang, wm) AS (VALUES ('de', 150000), ('en', 400000),
        |    ('es', 50000), ('fr', 100000), ('zh', 300000)),
        |n AS (SELECT d.lang, count(*) AS ns FROM documents d
        |      JOIN w USING (lang) WHERE d.lang IS NOT NULL GROUP BY d.lang),
        |t AS (SELECT CAST(sum(ns) AS BIGINT) AS nn FROM n),
        |p AS (SELECT n.lang, CAST(round(least(1.0,
        |        0.5 * CAST(nn AS DOUBLE) * CAST(wm AS DOUBLE) /
        |        (1000000.0 * CAST(ns AS DOUBLE))) * 1e6, 0) AS BIGINT) AS pm
        |      FROM n JOIN w USING (lang) CROSS JOIN t)
        |SELECT d.doc_id, d.lang FROM documents d JOIN p USING (lang)
        |WHERE ((d.doc_id * 2654435761 + 42) % 2147483647) * 2000000 + 1000000
        |      < pm * 4294967294
        |ORDER BY d.doc_id""".stripMargin,

    "q_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
        |m AS (SELECT vec_id, vd, list_min(vd) AS vmin, list_max(vd) AS vmax FROM e),
        |q AS (SELECT vec_id, vd, vmin, vmax,
        |  CASE WHEN vmax = vmin THEN list_transform(vd, v -> 0)
        |  ELSE list_transform(vd, v ->
        |    CAST(round((v - vmin) * 255.0 / (vmax - vmin), 0) AS INTEGER)) END AS qvec
        |  FROM m)
        |SELECT vec_id, vmin, vmax, array_to_string(qvec, ',') AS qstr,
        |  round(list_max(list_transform(range(1, len(vd) + 1), i ->
        |    abs(vmin + CAST(qvec[i] AS DOUBLE) * (vmax - vmin) / 255.0 - vd[i]))), 9)
        |    AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,

    "q_scrub_pii" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN
        |        ' contact user' || CAST(doc_id AS VARCHAR) ||
        |        '@example.com or +1415555' || CAST(doc_id % 100 AS VARCHAR)
        |      WHEN doc_id % 5 = 1 THEN
        |        ' from host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
        |      ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b(?:[0-9]{1,3}\.)(?:[0-9]{1,3}\.)(?:[0-9]{1,3}\.)[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\+[0-9]{7,15}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(?:[0-9]{1,3}\.)(?:[0-9]{1,3}\.)(?:[0-9]{1,3}\.)[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+[0-9]{7,15}', '<PHONE>', 'g') AS text_redacted
        |FROM aug ORDER BY doc_id""".stripMargin,

    // the identical RE2 chain as stripHtml, in the same order: script/
    // style/comment bodies out BEFORE tag-strip (so entities inside
    // them never leak), entities decoded with &amp; LAST
    "q_strip_html" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>d</title><style type="text/css">p { color: #333; }</style></head><body><h1 class="hd">'
        |    || lang || '</h1><!-- note --><p>' || text ||
        |    '</p><script>if (1 &lt; 2) { x = 1; }</script><div>tail &amp;amp; &quot;q&quot;&nbsp;&#39;e&#39; &amp; &lt;b&gt;</div></body></html>'
        |    AS html
        |  FROM documents),
        |s AS (SELECT doc_id, trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    html,
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS text_plain
        |  FROM h)
        |SELECT doc_id, text_plain,
        |  CAST(length(text_plain) AS BIGINT) AS n_plain
        |FROM s ORDER BY doc_id""".stripMargin,

    // the identical extract/replace chain as canonicalizeUrl — group
    // extracts + GLOBAL backreference-free replaces only, so Spark's
    // $1-vs-\1 replacement-syntax split never comes up
    "q_url_canon" ->
      """WITH u0 AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'HTTP://Example.COM:80/Docs/' || CAST(doc_id AS VARCHAR) || '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '#sec'
        |       WHEN doc_id % 4 = 1 THEN 'https://CDN.example.com:443/assets/' || CAST(doc_id AS VARCHAR) || '?id=' || CAST(doc_id AS VARCHAR) || '&fbclid=xyz&utm_medium=m'
        |       WHEN doc_id % 4 = 2 THEN 'http://example.com?utm_campaign=c'
        |       ELSE 'FTP://Files.example.org:21/pub/' || CAST(doc_id AS VARCHAR) END AS url
        |  FROM documents),
        |c AS (SELECT doc_id, trim(url) AS u FROM u0),
        |parts AS (SELECT doc_id, u,
        |  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |  regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        |  regexp_extract(regexp_replace(u, '(?s)#.*$', ''), '(?s)\?(.*)$', 1) AS query
        |  FROM c),
        |norm AS (SELECT doc_id, u, scheme,
        |  CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |       ELSE hostport END AS host,
        |  CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
        |  regexp_replace(regexp_replace('&' || query,
        |    '&(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid)=[^&]*', '', 'g'),
        |    '^&', '') AS qc
        |  FROM parts)
        |SELECT doc_id,
        |  CASE WHEN scheme = '' THEN u
        |       ELSE scheme || '://' || host || path ||
        |            CASE WHEN qc = '' THEN '' ELSE '?' || qc END END AS url_canon
        |FROM norm ORDER BY doc_id""".stripMargin,

    "q_dup_passages" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 13 THEN
        |      list_distinct(list_transform(range(1, len(toks) - 13 + 2),
        |        i -> array_to_string(list_slice(toks, i, i + 12), ' ')))
        |    ELSE CAST([] AS VARCHAR[]) END AS ngs
        |  FROM d),
        |u AS (SELECT doc_id, unnest(ngs) AS g FROM ng),
        |dc AS (SELECT g, count(*) AS n_docs FROM u GROUP BY g HAVING count(*) > 1),
        |hits AS (
        |  SELECT u.doc_id, count(dc.g) AS n_duplicated
        |  FROM u LEFT JOIN dc ON u.g = dc.g GROUP BY u.doc_id)
        |SELECT ng.doc_id, CAST(len(ng.ngs) AS BIGINT) AS n_ngrams,
        |  CAST(coalesce(h.n_duplicated, 0) AS BIGINT) AS n_duplicated,
        |  CASE WHEN len(ng.ngs) > 0 THEN
        |    CAST(coalesce(h.n_duplicated, 0) AS DOUBLE) / CAST(len(ng.ngs) AS DOUBLE)
        |  ELSE 0.0 END AS dup_fraction
        |FROM ng LEFT JOIN hits h ON ng.doc_id = h.doc_id
        |ORDER BY ng.doc_id""".stripMargin,

    "q_dup_removal" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(range(1, len(toks) - 13 + 2)) AS start,
        |    unnest(list_transform(range(1, len(toks) - 13 + 2),
        |      i -> array_to_string(list_slice(toks, i, i + 12), ' '))) AS g
        |  FROM d WHERE len(toks) >= 13),
        |dup AS (
        |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM w) u
        |  GROUP BY g HAVING count(*) > 1),
        |cov AS (
        |  SELECT DISTINCT doc_id, unnest(range(start, start + 13)) AS pos
        |  FROM w WHERE g IN (SELECT g FROM dup)),
        |t AS (
        |  SELECT doc_id, unnest(toks) AS tok,
        |    unnest(range(1, len(toks) + 1)) AS pos
        |  FROM d),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM t
        |  ANTI JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos),
        |reb AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(d.toks) - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(reb.clean_text, '') AS clean_text
        |FROM d LEFT JOIN reb ON d.doc_id = reb.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_exact_substr" ->
      """WITH pos AS (
        |  SELECT doc_id, p::INT AS p, substr(text, p::INT, 40) AS g
        |  FROM documents
        |       CROSS JOIN unnest(range(1, greatest(length(text) - 38, 1))) AS t(p)),
        |cov AS (
        |  SELECT doc_id, p FROM (
        |    SELECT doc_id, p, count(*) OVER (PARTITION BY g) AS cnt FROM pos)
        |  WHERE cnt >= 2),
        |isl AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p > coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p),
        |                           -100000) + 40 THEN 1 ELSE 0 END AS brk
        |  FROM cov),
        |isl2 AS (
        |  SELECT doc_id, p, sum(brk) OVER (
        |    PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, island, min(p) AS s, max(p) + 40 AS e
        |  FROM isl2 GROUP BY doc_id, island),
        |segs AS (
        |  SELECT doc_id,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS st,
        |    s AS en
        |  FROM spans
        |  UNION ALL
        |  SELECT doc_id, max(e), NULL FROM spans GROUP BY doc_id),
        |rebuilt AS (
        |  SELECT segs.doc_id,
        |    string_agg(CASE WHEN en IS NULL THEN substr(d.text, st::INT)
        |                    ELSE substr(d.text, st::INT, (en - st)::INT) END,
        |               '' ORDER BY st) AS clean_text
        |  FROM segs JOIN documents d USING (doc_id) GROUP BY segs.doc_id),
        |stats AS (
        |  SELECT doc_id, count(*) AS dup_spans, sum(e - s) AS removed_chars
        |  FROM spans GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(r.clean_text, d.text) AS clean_text,
        |  CAST(coalesce(st.dup_spans, 0) AS INT) AS dup_spans,
        |  CAST(coalesce(st.removed_chars, 0) AS INT) AS removed_chars
        |FROM documents d
        |LEFT JOIN rebuilt r USING (doc_id)
        |LEFT JOIN stats st USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_decontaminate_cut" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 2),
        |pos AS (
        |  SELECT doc_id, p::INT AS p, substr(text, p::INT, 40) AS g
        |  FROM corpus
        |       CROSS JOIN unnest(range(1, greatest(length(text) - 38, 1))) AS t(p)),
        |rg AS (
        |  SELECT DISTINCT substr(text, p::INT, 40) AS g
        |  FROM documents
        |       CROSS JOIN unnest(range(1, greatest(length(text) - 38, 1))) AS t(p)
        |  WHERE doc_id % 3 = 2),
        |cov AS (SELECT doc_id, p FROM pos WHERE g IN (SELECT g FROM rg)),
        |isl AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p > coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p),
        |                           -100000) + 40 THEN 1 ELSE 0 END AS brk
        |  FROM cov),
        |isl2 AS (
        |  SELECT doc_id, p, sum(brk) OVER (
        |    PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, island, min(p) AS s, max(p) + 40 AS e
        |  FROM isl2 GROUP BY doc_id, island),
        |segs AS (
        |  SELECT doc_id,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS st,
        |    s AS en
        |  FROM spans
        |  UNION ALL
        |  SELECT doc_id, max(e), NULL FROM spans GROUP BY doc_id),
        |rebuilt AS (
        |  SELECT segs.doc_id,
        |    string_agg(CASE WHEN en IS NULL THEN substr(d.text, st::INT)
        |                    ELSE substr(d.text, st::INT, (en - st)::INT) END,
        |               '' ORDER BY st) AS clean_text
        |  FROM segs JOIN corpus d USING (doc_id) GROUP BY segs.doc_id),
        |stats AS (
        |  SELECT doc_id, count(*) AS dup_spans, sum(e - s) AS removed_chars
        |  FROM spans GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(r.clean_text, d.text) AS clean_text,
        |  CAST(coalesce(st.dup_spans, 0) AS INT) AS dup_spans,
        |  CAST(coalesce(st.removed_chars, 0) AS INT) AS removed_chars
        |FROM corpus d
        |LEFT JOIN rebuilt r USING (doc_id)
        |LEFT JOIN stats st USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 13 THEN
        |      list_distinct(list_transform(range(1, len(toks) - 13 + 2),
        |        i -> array_to_string(list_slice(toks, i, i + 12), ' ')))
        |    ELSE CAST([] AS VARCHAR[]) END AS ngs
        |  FROM d),
        |bench AS (SELECT DISTINCT unnest(ngs) AS g FROM ng WHERE doc_id % 3 = 2),
        |corpus AS (SELECT doc_id, ngs FROM ng WHERE doc_id % 3 <> 2),
        |hits AS (
        |  SELECT u.doc_id, count(b.g) AS n_contaminated
        |  FROM (SELECT doc_id, unnest(ngs) AS g FROM corpus) u
        |  LEFT JOIN bench b ON u.g = b.g
        |  GROUP BY u.doc_id)
        |SELECT c.doc_id, CAST(len(c.ngs) AS BIGINT) AS n_ngrams,
        |  CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
        |  coalesce(h.n_contaminated, 0) > 0 AS contaminated
        |FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    // mirrors Search.bm25TopK EXPRESSION-shape for bit-identical
    // doubles: same IEEE op order, same primitive constants (1.2 + 1.0,
    // not 2.2 — they are different doubles), avgdl as an explicit
    // exact-int-sum division; contributions quantize to micro-unit
    // longs so the final sum is order-independent on both engines
    "q_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    t -> t <> '') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, len(toks) AS dl FROM d),
        |stats AS (SELECT count(*) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |q(query_id, qtext) AS (VALUES
        |  (0, 'hash join table'), (1, 'window agg stream batch'),
        |  (2, 'slow query filter')),
        |qt AS (SELECT DISTINCT query_id, term FROM
        |  (SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM q)),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |contrib AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    CAST(round(1e6 *
        |      ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
        |      (tf.tf * (1.2 + 1.0)) /
        |      (tf.tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl.dl) / stats.avgdl)),
        |      0) AS BIGINT) AS ci
        |  FROM tf JOIN dfreq USING (term) JOIN qt USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        |score AS (SELECT query_id, doc_id, CAST(sum(ci) AS BIGINT) AS score_micro
        |          FROM contrib GROUP BY query_id, doc_id)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score_micro,
        |  score_micro / 1e6 AS score, rank
        |FROM (SELECT query_id, doc_id, score_micro,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
        |      FROM score)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_vocab" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(list_filter(
        |        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |        x -> x <> '')) AS word
        |      FROM documents)
        |GROUP BY word
        |ORDER BY n DESC, word
        |LIMIT 100""".stripMargin,

    // the same tokenizer as q_vocab, then per-word codepoint symbols +
    // '</w>' and weighted adjacent pairs — the BPE round-1 statistic
    "q_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), t -> t <> '')) AS w
        |  FROM documents),
        |wf AS (SELECT w, count(*) AS n FROM toks GROUP BY w),
        |syms AS (SELECT w, n,
        |  list_append(list_transform(range(1, length(w) + 1),
        |    i -> substring(w, CAST(i AS INT), 1)), '</w>') AS s
        |  FROM wf),
        |pairs AS (
        |  SELECT s[CAST(i AS INT)] AS a, s[CAST(i AS INT) + 1] AS b, n
        |  FROM syms, UNNEST(range(1, len(s))) AS t(i)),
        |agg AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS cnt FROM pairs
        |        GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 100)
        |SELECT a, b, cnt FROM agg ORDER BY a, b""".stripMargin,

    // the oracle is the NORMALIZED TEXT itself: a hash match proves
    // the trained BPE merge table encodes and reassembles every doc
    // losslessly (the round-trip is the Spark side's job)
    "q_bpe_roundtrip" ->
      """SELECT doc_id,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS text_rt
        |FROM documents ORDER BY doc_id""".stripMargin,

    // bigrams join words with ' ' — injective, words cannot contain a
    // space post-normalization; ratios deliberately NOT rounded (raw
    // IEEE division of small exact ints is bit-identical cross-engine)
    "q_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(
        |      string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |      x -> x <> '') AS words
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, words, len(words) AS total,
        |    len(list_distinct(words)) AS dw,
        |    CASE WHEN len(words) > 1 THEN
        |      list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])
        |    ELSE [] END AS bigrams
        |  FROM w)
        |SELECT doc_id,
        |  CAST(total AS BIGINT) AS total_words,
        |  CASE WHEN total > 0 THEN 1.0 - CAST(dw AS DOUBLE) / total
        |       ELSE 0.0 END AS dup_word_ratio,
        |  CASE WHEN len(bigrams) > 0
        |       THEN 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
        |       ELSE 0.0 END AS dup_bigram_ratio,
        |  CASE WHEN total > 0 THEN
        |    CAST(list_max(list_transform(list_distinct(words),
        |      u -> len(list_filter(words, x -> x = u)))) AS DOUBLE) / total
        |       ELSE 0.0 END AS top_word_ratio
        |FROM c ORDER BY doc_id""".stripMargin,

    // the strip chain from q_strip_html + the normalized-text anti-join
    // from q_dedup_against + the quality formula from q_quality,
    // composed; quality folds as integer micro-units
    "q_ingest_pipeline" ->
      """WITH stripped AS (
        |  SELECT doc_id, lang, doc_id % 2 AS half, trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    '<html><body><p>' || text || '</p><!-- note --></body></html>',
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS tp
        |  FROM documents),
        |kept AS (
        |  SELECT b.doc_id, b.lang, b.tp FROM stripped b
        |  WHERE b.half = 1 AND NOT EXISTS (
        |    SELECT 1 FROM stripped c WHERE c.half = 0 AND
        |      regexp_replace(lower(trim(c.tp)), '\s+', ' ', 'g') =
        |      regexp_replace(lower(trim(b.tp)), '\s+', ' ', 'g'))),
        |parts AS (
        |  SELECT doc_id, lang,
        |    CAST(length(tp) AS DOUBLE) AS nchars,
        |    CAST(len(list_filter(regexp_split_to_array(lower(tp), '[^\p{L}\p{N}'']+'),
        |                         t -> len(t) > 0)) AS DOUBLE) AS ntok,
        |    CAST(len(list_distinct(list_filter(regexp_split_to_array(lower(tp), '[^\p{L}\p{N}'']+'),
        |                                       t -> len(t) > 0))) AS DOUBLE) AS nuniq,
        |    CAST(length(regexp_replace(tp, '[^\p{L}]', '', 'g')) AS DOUBLE) AS alpha,
        |    CASE WHEN regexp_matches(tp, '[.!?]["'')\]]?\s*$') THEN 1.0 ELSE 0.0 END AS term
        |  FROM kept),
        |scored AS (
        |  SELECT lang, round(((alpha / greatest(nchars, 1.0))
        |       + (nuniq / greatest(ntok, 1.0))
        |       + term
        |       + (CASE WHEN ntok >= 5 AND ntok <= 100000 THEN 1.0 ELSE 0.0 END)
        |       + (CASE WHEN alpha / greatest(ntok, 1.0) >= 2
        |                AND alpha / greatest(ntok, 1.0) <= 12 THEN 1.0 ELSE 0.0 END)) / 5.0,
        |        4) AS quality
        |  FROM parts)
        |SELECT lang, count(*) AS n_kept,
        |  CAST(sum(CAST(round(quality * 1e4, 0) AS BIGINT)) AS BIGINT) AS q_micro
        |FROM scored WHERE quality >= 0.5
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_quality" ->
      """WITH parts AS (
        |  SELECT doc_id, text,
        |    CAST(length(text) AS DOUBLE) AS nchars,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}'']+'),
        |                         t -> len(t) > 0)) AS DOUBLE) AS ntok,
        |    CAST(len(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}'']+'),
        |                                       t -> len(t) > 0))) AS DOUBLE) AS nuniq,
        |    CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE) AS alpha,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}'']+'),
        |      t -> list_contains(['the','and','of','to','in','is','that','it','was','for','with','as','his','on','be','at','by','had','not','are'], t))) AS hits,
        |    CASE WHEN regexp_matches(text, '[.!?]["'')\]]?\s*$') THEN 1.0 ELSE 0.0 END AS term
        |  FROM documents)
        |SELECT doc_id,
        |  round(((alpha / greatest(nchars, 1.0))
        |       + (nuniq / greatest(ntok, 1.0))
        |       + term
        |       + (CASE WHEN ntok >= 5 AND ntok <= 100000 THEN 1.0 ELSE 0.0 END)
        |       + (CASE WHEN alpha / greatest(ntok, 1.0) >= 2
        |                AND alpha / greatest(ntok, 1.0) <= 12 THEN 1.0 ELSE 0.0 END)) / 5.0,
        |        4) AS quality,
        |  round(hits / greatest(ntok, 1.0), 6) AS stopword_ratio
        |FROM parts ORDER BY doc_id""".stripMargin,

    "q_jaccard_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(norm) - 5, 0) + 2),
        |      i -> substring(norm, CAST(i AS INTEGER), 5))) AS sh
        |  FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |        FROM documents WHERE doc_id < 200)),
        |scored AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(inter AS DOUBLE) / uni AS jaccard
        |FROM scored WHERE CAST(inter AS DOUBLE) / uni >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // connected components via transitive closure: walk(id, reach)
    // saturates to every node reachable from id (UNION dedup bounds
    // the recursion); the component label is min(reach)
    "q_cc_labels" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(norm) - 5, 0) + 2),
        |      i -> substring(norm, CAST(i AS INTEGER), 5))) AS sh
        |  FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |        FROM documents WHERE doc_id < 200)),
        |scored AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM scored
        |  WHERE CAST(inter AS DOUBLE) / uni >= 0.25),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM pairs),
        |walk(id, reach) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach)
        |SELECT id AS doc_id, min(reach) AS label
        |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin,

    // quality-aware representatives: labels via the same recursive
    // closure, then highest score (normalized length) per cluster,
    // ties to the smallest doc_id; singletons self-label
    "q_cc_best" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents WHERE doc_id < 200),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(norm) - 5, 0) + 2),
        |      i -> substring(norm, CAST(i AS INTEGER), 5))) AS sh
        |  FROM docs),
        |scored AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM scored
        |  WHERE CAST(inter AS DOUBLE) / uni >= 0.25),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM pairs),
        |walk(id, reach) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach),
        |labels AS (SELECT id, min(reach) AS label FROM walk GROUP BY id),
        |lab AS (
        |  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS label,
        |    CAST(length(d.norm) AS BIGINT) AS score
        |  FROM docs d LEFT JOIN labels l ON l.id = d.doc_id),
        |best AS (SELECT label, max(score) AS best FROM lab GROUP BY label)
        |SELECT l.label, min(l.doc_id) AS doc_id, l.score
        |FROM lab l JOIN best b ON l.label = b.label
        |  AND l.score IS NOT DISTINCT FROM b.best
        |GROUP BY l.label, l.score ORDER BY l.label""".stripMargin,

    "q_ann_topk" ->
      """SELECT query_id, rank, nn_id, cos_sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC,
        |               c.vec_id ASC) AS BIGINT) AS rank
        |  FROM embeddings c
        |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
        |  WHERE c.vec_id <> q.vec_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // heavy hitters: the oracle is the EXACT top-k — the sketch path
    // must reproduce it bit-for-bit or the certificate raises
    "q_heavy_hitters" ->
      """WITH w AS (
        |  SELECT list_filter(
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |b AS (
        |  SELECT unnest(CASE WHEN len(words) > 1 THEN
        |      list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])
        |    ELSE [] END) AS key
        |  FROM w)
        |SELECT key, CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY key
        |ORDER BY n DESC, key LIMIT 50""".stripMargin,

    // the z-ordered copy must hold exactly the original row set
    "q_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey <= 50 AND l_suppkey <= 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_bloom_prune" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // the salted two-stage agg must equal the plain one-stage GROUP BY
    "q_skew_agg" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // the salted replicated join must preserve match multiplicity
    "q_skew_join" ->
      """WITH dim AS (
        |  SELECT l_returnflag, round(avg(l_quantity), 6) AS rf_avg_qty
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT li.l_returnflag, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem li JOIN dim USING (l_returnflag)
        |WHERE li.l_quantity > dim.rf_avg_qty
        |GROUP BY li.l_returnflag
        |ORDER BY li.l_returnflag""".stripMargin
  )
}
