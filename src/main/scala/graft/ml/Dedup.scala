package graft.ml

import graft.core.Persisted
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines (extension beyond the
  * reference surface). All variants follow the same scale discipline:
  *   - signatures are computed row-local in ONE codegen'd projection
  *     (no per-hash explode, no UDFs),
  *   - the only shuffles are the band/bucket groupBys, keyed so that
  *     bucket cardinality ≈ duplicate-cluster cardinality,
  *   - no driver-side collects anywhere.
  */
object Dedup {

  /** Exact dedup on a key set: keep the lowest-id row per key.
    * One hash-aggregate shuffle; at 100 TB use the content-hash variant
    * so the shuffle key is 8 bytes, not the document text. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols: _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact text dedup via 64-bit normalized content hash — shuffles only
    * (hash, id), then keeps min id per hash. */
  def exactByContentHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(df.withColumn("__chash", TextFunctions.contentHash(col(textCol))),
      idCol, Seq(col("__chash"))).drop("__chash")

  // -------------------------------------------------------------------
  // Incremental dedup against an existing corpus (the ingest pattern)
  // -------------------------------------------------------------------

  /** Incremental ingest dedup, exact: drop `batch` rows whose
    * normalized content already exists in `corpus`. The production
    * pattern for a continuously-fed training corpus — each new crawl
    * is deduped AGAINST what is already kept, without re-deduping the
    * corpus itself (batch-internal duplicates are deliberately NOT
    * removed here; compose with [[exactByContentHash]] for that).
    *
    * Scale shape: the corpus side reduces to DISTINCT 8-byte content
    * hashes before the join (a partial-aggregating shuffle of hashes,
    * never text); the anti-join then shuffles 8-byte keys — or none at
    * all when the corpus hash set fits AQE's broadcast threshold. At
    * 100 TB the corpus hash set is the thing to precompute and reuse
    * across ingest batches (it is exactly `corpusContentHashes`). */
  def dedupAgainstExact(batch: DataFrame, corpus: DataFrame,
                        textCol: String): DataFrame =
    dedupAgainstHashes(batch, textCol,
      corpusContentHashes(corpus, textCol, "__against_chash"), "__against_chash")

  /** [[dedupAgainstExact]] against a PRECOMPUTED hash set — the form
    * every recurring ingest should use: build [[corpusContentHashes]]
    * once per corpus snapshot (a full corpus scan), then each batch
    * pays only its own scan plus the 8-byte anti-join. Works on batch
    * AND streaming frames (the streaming twin
    * `StreamVerbs.streamDedupAgainstCorpus` delegates here). `hashes`
    * must expose the hash under `hashCol`. */
  def dedupAgainstHashes(batch: DataFrame, textCol: String,
                         hashes: DataFrame,
                         hashCol: String = "content_hash"): DataFrame = {
    require(!batch.columns.contains(hashCol),
      s"dedupAgainstHashes computes internal column $hashCol — the batch " +
        "already has one; pass a different hashCol")
    require(hashes.columns.contains(hashCol),
      s"the hash frame has no column $hashCol (columns: " +
        s"${hashes.columns.mkString(", ")})")
    batch.withColumn(hashCol, againstHash(col(textCol)))
      .join(hashes, Seq(hashCol), "left_anti")
      .drop(hashCol)
  }

  /** Null-text rows must SURVIVE ingest dedup (unhashable rows
    * survive, the repo convention) — but `xxhash64(NULL)` returns the
    * SEED, not null, so a raw contentHash would collide every
    * null-text batch row with every null-text corpus row (and the
    * NOT-EXISTS oracle, where NULL = NULL never matches, disagrees).
    * A null hash key never matches in a left_anti join → survives. */
  private[graft] def againstHash(text: Column): Column =
    when(text.isNull, lit(null).cast("long"))
      .otherwise(TextFunctions.contentHash(text))

  /** The reusable half of [[dedupAgainstExact]]: the corpus's distinct
    * normalized content hashes under the given column name (null-text
    * corpus rows contribute nothing — they are not dedup keys).
    * Persist or write this once per corpus snapshot and feed every
    * ingest batch. */
  def corpusContentHashes(corpus: DataFrame, textCol: String,
                          hashCol: String = "content_hash"): DataFrame =
    corpus.filter(col(textCol).isNotNull)
      .select(TextFunctions.contentHash(col(textCol)).as(hashCol)).distinct()

  /** Incremental ingest dedup, near: drop `batch` rows whose MinHash
    * signature agrees with ANY corpus row at ≥ `threshold` among the
    * corpus rows sharing one of its LSH band buckets. Same banding +
    * anchor-probe machinery as [[minhashDedup]], pointed across two
    * frames: corpus buckets fold to their `maxPartners` smallest-id
    * members via the bounded [[MinKSigAgg]] (a boilerplate cluster of
    * 10^6 corpus copies still costs k × sigBytes), batch rows probe the
    * anchor arrays in-task. The probe passes `Long.MaxValue` as the
    * probing id, so EVERY corpus anchor is compared (the kernel's
    * `anchor.id < id` lower-id rule degenerates to "all") — corpus ids
    * must therefore be below `Long.MaxValue`, which also keeps the
    * sentinel from colliding with a real batch id in the kernel.
    *
    * Both id columns must be integral (cast to long internally); null
    * batch ids survive untouched (no signature is computed for them),
    * matching [[minhashDedup]]'s null-id semantics. */
  def dedupAgainstNear(batch: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String,
                       numHashes: Int = 128, bands: Int = 32,
                       threshold: Double = 0.8, shingleSize: Int = 5,
                       maxPartners: Int = 64): DataFrame = {
    require(maxPartners >= 1,
      s"maxPartners must be >= 1 (got $maxPartners): 0 would disable the probe")
    // the corpus signatures stay persisted (documented-LRU): a caller
    // probing more batches against the same corpus frame reuses them
    val (_, anchors) = bandedAnchors(
      longIds(corpus, idCol, textCol, "dedupAgainstNear"), idCol, textCol,
      numHashes, bands, shingleSize, maxPartners, persist = true)
    probeAnchors(batch, anchors, idCol, textCol,
      numHashes, bands, threshold, shingleSize, maxPartners)
  }

  private def longIds(df: DataFrame, idCol: String, textCol: String,
                      caller: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    df.schema(idCol).dataType match {
      case LongType | IntegerType => ()
      case other => throw new IllegalArgumentException(
        s"$caller needs an integral id column, got $idCol: $other")
    }
    df.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as(idCol), col(textCol))
  }

  /** The probe half of [[dedupAgainstNear]]: band the batch, join the
    * (precomputed) corpus anchors on the band key, kernel-verify, drop.
    * Factored out so a persisted index ([[buildNearDupIndex]]) probes
    * through the IDENTICAL plan as the inline path. */
  private def probeAnchors(batch: DataFrame, anchors: DataFrame,
                           idCol: String, textCol: String,
                           numHashes: Int, bands: Int, threshold: Double,
                           shingleSize: Int, maxPartners: Int,
                           caller: String = "dedupAgainstNear"): DataFrame = {
    val (batchBanded, _) = bandedAnchors(
      longIds(batch, idCol, textCol, caller), idCol, textCol,
      numHashes, bands, shingleSize, maxPartners, persist = false)
    // inner join: a batch row in a bucket no corpus row occupies has no
    // candidates — it survives via the left_anti below
    val dups = batchBanded.join(anchors, Seq("__bkey"))
      .filter(graft.functions.Kernels.minhashAnchorDrop(
        lit(Long.MaxValue), col("__sig"), col("__anchors"), numHashes, threshold))
      .select(col("__id").cast(batch.schema(idCol).dataType).as(idCol)).distinct()
    batch.join(dups, Seq(idCol), "left_anti")
  }

  /** Build and persist the corpus side of [[dedupAgainstNear]] — the
    * recurring-ingest form. Signature computation over the corpus is
    * the expensive half (a full text scan + the banding shuffle), and
    * it does not change between batches: persist it ONCE per corpus
    * snapshot, then each batch pays only its own scan + an 8-byte
    * band-key join against the index ([[dedupAgainstNearIndexed]]).
    * The banding PARAMETERS ride INSIDE the anchors table as constant
    * columns (RLE-compressed to nothing by parquet) and are read back
    * at probe time — a probe with mismatched banding silently loses
    * recall, so the parameters are not trusted to the caller twice,
    * and a single atomic overwrite means an interrupted rebuild can
    * never pair new anchors with stale parameters (two files could).
    * Layout: `path/anchors` (band key → bounded anchor array, the
    * [[MinKSigAgg]] fold, + the params columns). Same recall contract
    * as the inline path; `threshold` stays a PROBE-time knob. */
  def buildNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                        path: String, numHashes: Int = 128, bands: Int = 32,
                        shingleSize: Int = 5, maxPartners: Int = 64): Unit = {
    require(maxPartners >= 1,
      s"maxPartners must be >= 1 (got $maxPartners): 0 would disable the probe")
    val (_, anchors) = bandedAnchors(
      longIds(corpus, idCol, textCol, "buildNearDupIndex"), idCol, textCol,
      numHashes, bands, shingleSize, maxPartners, persist = false)
    anchors
      .withColumn("num_hashes", lit(numHashes))
      .withColumn("bands", lit(bands))
      .withColumn("shingle_size", lit(shingleSize))
      .withColumn("max_partners", lit(maxPartners))
      .write.mode("overwrite").parquet(s"$path/anchors")
  }

  /** Probe a [[buildNearDupIndex]] index: drop `batch` rows whose
    * signature agrees at ≥ `threshold` with any indexed corpus row
    * sharing a band bucket. Banding parameters come from the index
    * itself; the plan is identical to [[dedupAgainstNear]]'s probe
    * half, minus the corpus scan it exists to avoid. An EMPTY index
    * (corpus had no indexable rows) keeps the whole batch — there is
    * nothing to collide with, and no parameter row to band by. */
  def dedupAgainstNearIndexed(batch: DataFrame, path: String,
                              idCol: String, textCol: String,
                              threshold: Double = 0.8): DataFrame = {
    val spark = batch.sparkSession
    val stored = spark.read.parquet(s"$path/anchors")
    stored.select(col("num_hashes"), col("bands"), col("shingle_size"),
        col("max_partners")).head(1) match {
      case Array(p) =>
        probeAnchors(batch,
          stored.select(col("__bkey"), col("__anchors")), idCol, textCol,
          numHashes = p.getInt(0), bands = p.getInt(1),
          threshold = threshold, shingleSize = p.getInt(2),
          maxPartners = p.getInt(3), caller = "dedupAgainstNearIndexed")
      case _ => batch
    }
  }

  /** One [[appendToNearDupIndex]] cycle's evidence. `newBucketFraction`
    * is the share of the batch's band buckets the index had never seen
    * — a distribution-drift signal (same-distribution batches mostly
    * land in occupied buckets; a shifted corpus opens fresh ones).
    * `maxAnchorRowsPerBucket` is the probe-cost signal: each append
    * adds up to one anchor ROW per touched bucket, and a probe kernels
    * against every row sharing its bucket — past
    * [[Dedup.CompactAnchorRowsThreshold]] rows rebuild the index
    * ([[Dedup.buildNearDupIndex]]) to re-fold the buckets into one
    * bounded anchor set each. */
  case class NearDupAppendStats(anchorRows: Long, newBucketFraction: Double,
                                maxAnchorRowsPerBucket: Long) {
    def compactionRecommended: Boolean =
      maxAnchorRowsPerBucket > CompactAnchorRowsThreshold
  }

  /** Documented compaction line for appended near-dup indexes: at 8
    * anchor rows in one bucket a probe pays 8 bounded kernel calls
    * where a rebuilt index pays 1 — still correct (the union of
    * bounded anchor sets is a SUPERSET of the rebuilt bounded set, so
    * recall can only exceed the single-set contract), just 8× the
    * in-task verify cost on that bucket. */
  val CompactAnchorRowsThreshold = 8L

  /** Append a batch to a persisted [[buildNearDupIndex]] index without
    * rebuilding — the recurring-ingest form. The batch's signatures are
    * banded under the FROZEN stored parameters (read from the index,
    * never trusted to the caller twice — the build contract) and its
    * per-bucket bounded anchor sets are APPENDED as new rows in the
    * same layout. [[dedupAgainstNearIndexed]] needs no change: the
    * band-key join now meets ≥1 anchor row per occupied bucket and a
    * batch row is dropped if ANY of them agrees at threshold, so the
    * appended index flags a SUPERSET of what the pre-append index
    * flagged and exactly the rebuilt index's set whenever no bucket
    * overflowed `maxPartners` (spec-pinned both ways). The cost of
    * never rewriting old anchors is probe work growing with append
    * generations — the returned [[NearDupAppendStats]] carries the
    * compaction signal and [[CompactAnchorRowsThreshold]] documents
    * the rebuild line. */
  def appendToNearDupIndex(batch: DataFrame, idCol: String, textCol: String,
                           path: String): NearDupAppendStats = {
    val spark = batch.sparkSession
    // parquet's file listing is captured at read time, so `stored`
    // keeps seeing the PRE-append files even after the write below —
    // exactly what the new-bucket statistic needs
    val stored = spark.read.parquet(s"$path/anchors")
    val params = stored.select(col("num_hashes"), col("bands"),
      col("shingle_size"), col("max_partners")).head(1)
    require(params.nonEmpty,
      s"appendToNearDupIndex: index at $path holds no anchors — build it " +
        "first (an empty corpus has no banding parameters to append under)")
    val p = params(0)
    val (_, anchors) = bandedAnchors(
      longIds(batch, idCol, textCol, "appendToNearDupIndex"), idCol, textCol,
      numHashes = p.getInt(0), bands = p.getInt(1),
      shingleSize = p.getInt(2), maxPartners = p.getInt(3), persist = false)
    Persisted.holding { hold =>
      // three consumers (write + two statistics) — persist the bounded
      // per-bucket fold, not the corpus
      val newAnchors = hold(anchors
        .withColumn("num_hashes", lit(p.getInt(0)))
        .withColumn("bands", lit(p.getInt(1)))
        .withColumn("shingle_size", lit(p.getInt(2)))
        .withColumn("max_partners", lit(p.getInt(3))))
      newAnchors.write.mode("append").parquet(s"$path/anchors")
      val batchKeys = newAnchors.select(col("__bkey")).distinct()
      val batchBuckets = batchKeys.count()
      val seen = batchKeys.join(stored.select(col("__bkey")).distinct(),
        Seq("__bkey"), "left_semi").count()
      val newFrac =
        if (batchBuckets == 0) 0.0
        else 1.0 - seen.toDouble / batchBuckets
      // post-append probe-cost reading needs a FRESH listing
      val maxRows = spark.read.parquet(s"$path/anchors")
        .groupBy(col("__bkey")).agg(F.count(lit(1)).as("__n"))
        .agg(F.coalesce(F.max(col("__n")), lit(0L))).head().getLong(0)
      val out = NearDupAppendStats(newAnchors.count(), newFrac, maxRows)
      if (out.compactionRecommended)
        System.err.println(
          s"[graft] appendToNearDupIndex: a bucket now holds $maxRows anchor " +
            s"rows (> $CompactAnchorRowsThreshold) — probes pay ${maxRows}× " +
            "the single-set verify on it; rebuild the index to re-fold")
      out
    }
  }

  /** Compact an appended [[buildNearDupIndex]] index IN PLACE: re-fold
    * the accumulated per-bucket anchor ROWS (one per touched bucket per
    * append generation) back to the single bounded anchor set a fresh
    * build would produce — making [[NearDupAppendStats.
    * compactionRecommended]] actionable instead of advisory (the r12
    * gap: the signal only logged a rebuild recommendation).
    *
    * The fold runs under the FROZEN stored parameters over the ANCHOR
    * TABLE ONLY — one explode + one bounded [[MinKSigAgg]] shuffle over
    * ≤ generations × buckets rows, NEVER the corpus (that is the whole
    * point: a rebuild re-scans and re-signs every document; compaction
    * re-folds a few KB per bucket). Equivalence is exact, not
    * approximate: a bucket's k smallest ids overall are each within
    * their own generation's k smallest, so the union of bounded
    * per-generation sets always CONTAINS the fresh-build bounded set,
    * and re-folding the union to the k smallest reproduces it
    * (spec-pinned compacted ≡ fresh-build anchors, probe-for-probe).
    * Probe results are unchanged whenever no bucket ever overflowed
    * `maxPartners` (the same condition under which append ≡ rebuild);
    * an overflowed bucket's compacted set is the rebuilt contract —
    * the bounded `maxPartners` smallest — where the append chain
    * temporarily held a superset.
    *
    * Write discipline: the folded table lands in a sibling directory
    * first, then swaps in via TWO renames (live → `anchors.old`, new →
    * live; each atomic on HDFS/local, emulated on object stores) — a
    * probe can never see a HALF-WRITTEN table, and the no-table window
    * is only the gap between the two metadata renames, not an
    * O(files) delete. Compaction excludes concurrent WRITERS by the
    * single-writer contract appends already carry; concurrent READERS
    * are best-effort — a probe landing exactly in the rename gap fails
    * cleanly ("holds no anchors") and retries. Crash recovery is
    * documented at the swap site. Returns the compacted anchor-row
    * count (== occupied buckets). */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String): Long = {
    val stored = spark.read.parquet(s"$path/anchors")
    val params = stored.select(col("num_hashes"), col("bands"),
      col("shingle_size"), col("max_partners")).head(1)
    require(params.nonEmpty,
      s"compactNearDupIndex: index at $path holds no anchors — nothing to compact")
    val p = params(0)
    val maxPartners = p.getInt(3)
    val mk = F.udaf(new MinKSigAgg(maxPartners),
      org.apache.spark.sql.Encoders.product[MinKSigItem])
    // explode the per-generation bounded sets back to members, drop
    // exact duplicates (the same id re-appended lands twice; the fresh
    // build would hold it once), re-fold bounded per bucket
    val folded = stored
      .select(col("__bkey"), explode(col("__anchors")).as("__a"))
      .select(col("__bkey"), col("__a").getField("id").as("__id"),
        col("__a").getField("sig").as("__sig"))
      .distinct()
      .groupBy(col("__bkey"))
      .agg(mk(col("__id"), col("__sig")).as("__mk"))
      .select(col("__bkey"), col("__mk").getField("items").as("__anchors"))
      .withColumn("num_hashes", lit(p.getInt(0)))
      .withColumn("bands", lit(p.getInt(1)))
      .withColumn("shingle_size", lit(p.getInt(2)))
      .withColumn("max_partners", lit(maxPartners))
    val tmp = s"$path/anchors.compacting"
    folded.write.mode("overwrite").parquet(tmp)
    val rows = spark.read.parquet(tmp).count()
    // two-rename swap, never delete-then-rename (r13 verdict #3): the
    // no-table window a concurrent probe could hit shrinks from an
    // O(files) recursive delete to the gap between two metadata-only
    // renames. Still NOT reader-serializable — a probe landing exactly
    // in that gap fails with "no anchors"; compaction excludes
    // concurrent WRITERS by contract and readers best-effort. CRASH
    // RECOVERY: anchors.old + anchors.compacting with no live anchors
    // → rename either back (old = roll back, compacting = roll
    // forward); leftovers beside a healthy anchors table are post-swap
    // residue, safe to delete.
    val anchorsPath = new org.apache.hadoop.fs.Path(s"$path/anchors")
    val oldPath = new org.apache.hadoop.fs.Path(s"$path/anchors.old")
    val fs = anchorsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(oldPath, true) // stale aside from a crashed prior compaction
    require(fs.rename(anchorsPath, oldPath),
      s"compactNearDupIndex: rename $anchorsPath -> $oldPath failed — " +
        "the live anchors are untouched; the compacted table stays at " +
        s"$tmp")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), anchorsPath),
      s"compactNearDupIndex: rename $tmp -> $anchorsPath failed — " +
        s"recover by renaming $oldPath back (roll back) or $tmp in " +
        "(roll forward)")
    fs.delete(oldPath, true)
    rows
  }

  // -------------------------------------------------------------------
  // MinHash + LSH banding
  // -------------------------------------------------------------------

  /** 2^31 - 1, Mersenne prime. The 31-bit hash space keeps every
    * intermediate product below 2^62, so the expressions are safe under
    * ANSI overflow checking (Spark 4 default). */
  private val P = 2147483647L

  /** Deterministic hash-family params a_i in [1,P-1], b_i in [0,P-1],
    * derived from the index (splitmix64 finalizer — the one definition
    * in graft.functions.Kernels, shared with the kernel expressions so
    * the families can never drift apart). */
  private def hashParams(i: Int): (Long, Long) = {
    import graft.functions.Kernels.mix
    (((mix(i.toLong * 2 + 1) >>> 33) % (P - 1)) + 1, (mix(i.toLong * 2 + 2) >>> 33) % P)
  }

  /** 31-bit hashes of a shingle set over a MATERIALIZED normalized-text
    * column (see TextFunctions.shinglesFromNormalized for why the input
    * must be an attribute, not a computed expression). Materialize this
    * as its own column before fanning out to the hash family
    * (CollapseProject keeps an expensive multiply-referenced alias in
    * its own Project, so it is computed once per row). */
  def shingleHashesFromNorm(norm: Column, shingleSize: Int = 5): Column =
    transform(TextFunctions.shinglesFromNormalized(norm, shingleSize),
      s => pmod(shiftrightunsigned(xxhash64(s), 33), lit(P)))

  /** MinHash signature as an array<long> of length `numHashes` from a
    * (materialized) shingle-hash array: sig_i = min over hashes h of
    * (a_i * h + b_i) mod p. No explode — the whole signature is
    * row-local, cheap arithmetic over an in-memory array. */
  def signatureFromHashes(hashes: Column, numHashes: Int): Column = {
    val sigs = (0 until numHashes).map { i =>
      val (a, b) = hashParams(i)
      array_min(transform(hashes, h => pmod(h * lit(a) + lit(b), lit(P))))
    }
    F.array(sigs: _*)
  }

  /** (__id, __sig) signature projection: one custom-kernel expression
    * per row (the child normalize expression is evaluated once inside
    * it) — see graft.functions.MinHashSigExpr for why this beats the HOF
    * formulation (`signatureFromHashes`) by ~50×.
    *
    * `persist` (MEMORY_AND_DISK) is for a caller that reads the frame
    * twice — [[minhashDedup]] (banding explode + anchor fold) and
    * [[minhashPairs]] (banding + the two verify joins) — where the
    * O(len × hashes) kernel would otherwise run once per read; the
    * (id, 64-long signature) ≈ 0.5 KB/doc is far smaller than the corpus
    * (measured ~30% off the end-to-end dedup at bench scale). A frame
    * read once is not persisted: a per-micro-batch persist would add one
    * cache entry per batch that nothing reads again. Lifetime note: a
    * persisted frame lives until `spark.catalog.clearCache()` or session
    * end, aging out by LRU — one-shot batch callers that are done
    * deduping can clear it (the bench does so between queries). */
  private def sigFrame(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int, shingleSize: Int, persist: Boolean): DataFrame = {
    val sigs = df.select(col(idCol).as("__id"),
      graft.functions.Kernels.minhashSig(
        TextFunctions.normalizeText(col(textCol)), numHashes, shingleSize).as("__sig"))
    if (persist) sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sigs
  }

  /** The ONE banding + anchor-fold construction behind every
    * anchor-probe dedup path (intra-corpus [[minhashDedup]] and
    * cross-corpus [[dedupAgainstNear]]): `banded` is the (__id, __sig,
    * __bkey) explode of `df`'s signatures (explode_outer — bandKeys is
    * fixed-size and never empty, and a plain explode's inferred
    * size-filter would evaluate it twice); `anchors` folds each bucket
    * to its `maxPartners` SMALLEST (id, sig) members via the bounded
    * [[MinKSigAgg]] partial aggregate, so a degenerate 10^6-copy
    * bucket costs k × sigBytes, never |bucket|. Both frames are lazy —
    * a caller using only one pays only for that one. `df` must carry a
    * non-null long `idCol`. `persist` goes to [[sigFrame]]. */
  private def bandedAnchors(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int, bands: Int, shingleSize: Int,
                            maxPartners: Int, persist: Boolean): (DataFrame, DataFrame) = {
    val banded = sigFrame(df, idCol, textCol, numHashes, shingleSize, persist)
      .select(col("__id"), col("__sig"),
        explode_outer(bandKeys(col("__sig"), numHashes, bands)).as("__bkey"))
    val mk = F.udaf(new MinKSigAgg(maxPartners),
      org.apache.spark.sql.Encoders.product[MinKSigItem])
    val anchors = banded.groupBy(col("__bkey"))
      .agg(mk(col("__id"), col("__sig")).as("__mk"))
      .select(col("__bkey"), col("__mk").getField("items").as("__anchors"))
    (banded, anchors)
  }

  /** LSH band keys: signature split into `bands` bands of
    * numHashes/bands rows each, each band hashed to one long. */
  def bandKeys(sig: Column, numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    F.array((0 until bands).map { b =>
      xxhash64(lit(b), slice(sig, b * r + 1, r).cast("string"))
    }: _*)
  }

  /** Near-dup removal via MinHash LSH: a row is dropped when it shares
    * any band bucket with a lower-id row AND the estimated Jaccard
    * (signature agreement) of the pair is ≥ `threshold`.
    *
    * Candidates are the intra-bucket pairs from [[minhashPairs]] —
    * each row against the bucket's `maxPartners` smallest lower ids,
    * not just the single bucket minimum: verifying only against the
    * min would silently miss a true duplicate pair whenever the bucket
    * minimum is an unrelated hash collision, while the per-bucket cap
    * keeps a degenerate giant cluster linear instead of quadratic.
    *
    * Plan shape: project signatures (map-only) → explode bands
    * (×bands) → bucket self-join on the 8-byte band key → distinct
    * pairs → signature verify → distinct dup ids → left_anti join back.
    * Greedy min-id retention -- not full connected components (which
    * needs iterative joins; see [[minhashDedupCC]]); at 100 TB that is
    * the standard first-pass dedup.
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 128, bands: Int = 32,
                   threshold: Double = 0.8, shingleSize: Int = 5,
                   maxPartners: Int = 64): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    require(maxPartners >= 1,
      s"maxPartners must be >= 1 (got $maxPartners): 0 would silently " +
        "generate no candidate pairs and disable dedup entirely")
    val idType = df.schema(idCol).dataType
    val dups = idType match {
      case LongType | IntegerType =>
        // ANCHOR-PROBE verify, bounded memory at every stage:
        // signatures ride the banding explode (512 B/row — far cheaper
        // than re-joining them onto candidate pairs); each bucket's
        // `maxPartners` SMALLEST members are folded by a bounded
        // partial aggregate (graft.ml.MinKSigAgg — a degenerate
        // 10^6-copy bucket costs k × sigBytes in the buffer, never
        // |bucket|); then every bucket member probes its bucket's
        // anchor array in one in-task loop
        // (graft.functions.MinHashAnchorDropExpr). Same result set as
        // the pair formulation's capped lower-partner contract,
        // without its window rank, bucket self-join, pair distinct, or
        // signature re-joins. The signature projection is persisted
        // (via sigFrame, the one copy of that logic — cache lifetime
        // note on that helper): the anchor aggregation and the probe
        // join both consume it. Null-id rows are excluded from
        // candidates (the UDAF's product encoder would reject them);
        // they survive in the output via the left_anti below, the same
        // semantics the pair formulation gave them.
        val (banded, anchors) = bandedAnchors(
          df.filter(col(idCol).isNotNull)
            .select(col(idCol).cast("long").as(idCol), col(textCol)),
          idCol, textCol, numHashes, bands, shingleSize, maxPartners,
          persist = true)
        banded.join(anchors, Seq("__bkey"))
          .filter(graft.functions.Kernels.minhashAnchorDrop(
            col("__id"), col("__sig"), col("__anchors"), numHashes, threshold))
          .select(col("__id").cast(idType).as(idCol)).distinct()
      case _ =>
        minhashPairs(df, idCol, textCol, numHashes, bands,
          threshold, shingleSize, maxPartners)
          .select(col("id_b").as(idCol)).distinct()
    }
    df.join(dups, Seq(idCol), "left_anti")
  }

  /** Candidate near-duplicate pairs (id < matchId) from MinHash LSH with
    * estimated Jaccard — the audit-friendly variant of `minhashDedup`.
    *
    * The bucket self-join pairs each row only with the bucket's
    * `maxPartners` SMALLEST ids (window rank on the left side): fan-out
    * per bucket is maxPartners × |bucket| instead of |bucket|², so one
    * degenerate cluster (10⁶ copies of a boilerplate page) cannot
    * explode the shuffle quadratically. Recall cost is nil in practice:
    * a 64-bit band-key collision is rare, so a bucket's smallest ids
    * are overwhelmingly true near-dups of their co-members — a row is
    * missed only if ALL maxPartners smallest lower ids fail the
    * signature verify in EVERY shared band. Buckets at or under
    * maxPartners+1 members (every non-degenerate corpus) get exactly
    * the all-pairs behavior. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 128, bands: Int = 32,
                   threshold: Double = 0.8, shingleSize: Int = 5,
                   maxPartners: Int = 64): DataFrame = {
    require(maxPartners >= 1,
      s"maxPartners must be >= 1 (got $maxPartners): 0 would silently " +
        "generate no candidate pairs and disable dedup entirely")
    val sigs = sigFrame(df, idCol, textCol, numHashes, shingleSize, persist = true)
    // bucket-join on (band key) with bare ids; signatures join back on
    // the (deduplicated) candidate pairs only
    val banded = sigs.select(col("__id"),
      explode_outer(bandKeys(col("__sig"), numHashes, bands)).as("__bkey"))
    val w = Window.partitionBy(col("__bkey")).orderBy(col("__id"))
    val lhs = banded.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= maxPartners)
    val cand = lhs.select(col("__id").as("id_a"), col("__bkey"))
      .join(banded.select(col("__id").as("id_b"), col("__bkey")), Seq("__bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val est = aggregate(zip_with(col("sig_a"), col("sig_b"),
      (a, b) => when(a === b, 1).otherwise(0)), lit(0),
      (acc, v) => acc + v).cast("double") / numHashes
    cand
      .join(sigs.select(col("__id").as("id_a"), col("__sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("__id").as("id_b"), col("__sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  /** 64-bit SimHash over lowercase alphanumeric tokens: bit b of the
    * result is the sign of Σ_tokens (±1 depending on bit b of the token
    * hash). One custom-kernel char walk per row
    * (graft.functions.SimHash64Expr). */
  def simhash(textCol: Column): Column =
    graft.functions.Kernels.simhash64(textCol)

  /** Hamming distance between two 64-bit hashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming distance ≤ maxDist — the
    * text entry point over [[hammingPairs]]' blocking machinery. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame =
    hammingPairs(df.select(col(idCol),
      simhash(col(textCol)).as("__graft_sh64")), idCol, "__graft_sh64", maxDist)

  /** Near-dup pairs over ANY precomputed 64-bit locality hash column
    * (SimHash, image perceptual dHash, audio fingerprint…), with a
    * GUARANTEED recall contract: the 64 bits are split into
    * `maxDist + 1` blocks, so by pigeonhole any pair within maxDist
    * collides unchanged in ≥ 1 block; exact hamming verifies after the
    * bucket join. maxDist ≤ 7 is enforced — beyond that the blocks
    * shrink under 8 bits and the bucket join degenerates toward
    * all-pairs (and the classic production setting is 3–4 anyway).
    * maxDist = 3 is the classic 4×16-bit scheme. Null hashes (e.g.
    * undecodable media) never pair. */
  def hammingPairs(df: DataFrame, idCol: String, hashCol: String,
                   maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7,
      s"hammingPairs guarantees recall via maxDist+1 blocks; maxDist=$maxDist " +
        "would need blocks under 8 bits (got to be in [0,7])")
    val nBlocks = maxDist + 1
    val widths = Array.tabulate(nBlocks)(i => 64 / nBlocks + (if (i < 64 % nBlocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val blocks = F.array((0 until nBlocks).map { b =>
      struct(lit(b).as("blk"),
        shiftrightunsigned(col("__sh"), offsets(b))
          .bitwiseAND(lit((1L << widths(b)) - 1)).as("key"))
    }: _*)
    // persisted: the block self-join consumes both sides of this
    // projection — without it the hash input (for simhash, a kernel
    // walk over every document) is computed twice (8 bytes/row cached,
    // LRU-evicted)
    val sh = df.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("__id"), col(hashCol).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sh.select(col("__id"), col("__sh"), explode_outer(blocks).as("__b"))
      .select(col("__id"), col("__sh"), col("__b.blk"), col("__b.key"))
    val l = banded.select(col("__id").as("id_a"), col("__sh").as("sh_a"),
      col("blk"), col("key"))
    val r = banded.select(col("__id").as("id_b"), col("__sh").as("sh_b"),
      col("blk"), col("key"))
    // filter BEFORE the dedup: a pair failing maxDist must not pay the
    // distinct's exchange — at scale most block collisions fail, so
    // this is the difference between shuffling collisions and
    // shuffling verified near-dups
    l.join(r, Seq("blk", "key")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  // -------------------------------------------------------------------
  // connected-components clustering over candidate pairs
  // -------------------------------------------------------------------

  /** Last connectedComponents run's (rounds executed, driver actions in
    * the loop) — test instrumentation. (0, 0) means the local
    * union-find path was taken. */
  @volatile private[graft] var lastCCStats: (Int, Int) = (0, 0)

  /** Natural ordering for the id types a pair graph can realistically
    * carry — the local path needs one to pick deterministic min labels.
    * Strings compare by UTF-8 BYTE order (unsigned), not Java UTF-16
    * compareTo: Spark's `min`/`least` compare UTF8String binary, and
    * the two orders disagree on supplementary-plane characters — the
    * local path must pick the same labels the distributed path would. */
  private def idOrdering(dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType    => Some(Ordering.Long.on[Any](_.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.Int.on[Any](_.asInstanceOf[Int]))
      case ShortType   => Some(Ordering.Short.on[Any](_.asInstanceOf[Short]))
      case StringType  => Some(new Ordering[Any] {
        def compare(x: Any, y: Any): Int = {
          val a = x.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val b = y.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = math.min(a.length, b.length)
          var i = 0
          while (i < n) {
            val c = (a(i) & 0xff) - (b(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          a.length - b.length
        }
      })
      case _           => None
    }
  }

  /** Connected components over an undirected pair graph: returns
    * `(id, label)` where label = the component's minimum id.
    *
    * Two-tier execution, the same reasoning Spark applies to broadcast
    * joins: the pair graph scales with the DUPLICATES, not the corpus,
    * so it is usually orders of magnitude smaller than the input.
    *   - At or under `localEdgeLimit` edges (default 500k ≈ tens of MB
    *     of collected rows — safe even on a default-sized 1g driver
    *     heap; raise it when the driver has room) the edge list is
    *     collected once and solved with union-find + path
    *     compression — exact, deterministic min-labels, zero
    *     iteration overhead.
    *   - Above it (or for exotic id types with no natural ordering) a
    *     distributed min-label loop runs: each round takes the min over
    *     neighbor labels AND pointer-jumps (label := label(label)), so
    *     convergence is O(log diameter); maxIters=20 covers any
    *     component a physical dataset can contain. The ONE driver
    *     action per round is the count that materializes the round's
    *     cache — its `observe` metric (how many labels decreased)
    *     doubles as the fixpoint check, so convergence detection costs
    *     no extra job at all. Hitting the cap without converging warns
    *     on stderr rather than silently returning partial labels.
    *
    * `persistSteppedEdges`: edge count above which each round persists
    * its intermediate `stepped` frame so the pointer-jumping self-join
    * doesn't compute the min-label join twice (see
    * [[PersistSteppedEdges]] for the crossover reasoning). */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
                          localEdgeLimit: Long = 500L * 1000,
                          persistSteppedEdges: Long = PersistSteppedEdges): DataFrame =
    Persisted.holding { hold =>
      // hold the INPUT first: both paths read it at least twice (the
      // count + either the collect or the sym union), and an un-cached
      // pairs plan is often a whole LSH candidate+verify pipeline.
      // Only hold it if the caller didn't already cache it — releasing
      // a caller's cache would silently force their later actions to
      // recompute the whole upstream.
      val p =
        if (pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE) hold(pairs)
        else pairs
      val idType = p.schema("id_a").dataType
      val nEdges = p.count()
      val ord = idOrdering(idType)
      if (nEdges <= localEdgeLimit && ord.isDefined) {
        val labels = localUnionFind(p, idType, ord.get)
        lastCCStats = (0, 0)
        labels
      } else distributedCC(p, maxIters, nEdges >= persistSteppedEdges, nEdges)
    }

  /** Driver-local union-find over a collected edge list (size-guarded
    * by the caller). Union by rank + path compression, then each
    * component labeled with its minimum id under `ord`. */
  private def localUnionFind(p: DataFrame, idType: org.apache.spark.sql.types.DataType,
                             ord: Ordering[Any]): DataFrame = {
    import scala.collection.mutable
    val edges = p.select(col("id_a"), col("id_b")).collect()
    val parent = mutable.HashMap.empty[Any, Any]
    val rank = mutable.HashMap.empty[Any, Int]
    def find(x: Any): Any = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != cur) {
        val nxt = parent(cur); parent(cur) = root; cur = nxt
      }
      root
    }
    def union(a: Any, b: Any): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (rka, rkb) = (rank.getOrElse(ra, 0), rank.getOrElse(rb, 0))
        if (rka < rkb) parent(ra) = rb
        else if (rka > rkb) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = rka + 1 }
      }
    }
    edges.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      require(a != null && b != null,
        "connectedComponents: null id in pair graph")
      union(a, b)
    }
    val nodes = edges.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toArray.distinct
    val minOfRoot = mutable.HashMap.empty[Any, Any]
    nodes.foreach { n =>
      val root = find(n)
      minOfRoot.get(root) match {
        case Some(m) if ord.lteq(m, n) => ()
        case _ => minOfRoot(root) = n
      }
    }
    val spark = p.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("label", idType, nullable = false)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(nodes.map(n =>
        org.apache.spark.sql.Row(n, minOfRoot(find(n)))): _*)
    spark.createDataFrame(rows, schema)
  }

  /** Rounds between lineage truncations in [[distributedCC]]: the
    * per-round logical plan nests the previous round's FOUR times
    * (labels feeds stepped twice — directly and through the
    * neighbor-min — and the pointer-jumping self-join reads stepped
    * twice), so between truncations the DAG-expanded-to-tree plan that
    * the analyzer walks and AQE stringifies per stage update grows
    * ~4^k. Every k-th round the labels frame is `localCheckpoint`ed
    * (plan collapses to a scanned RDD; on a real cluster swap for
    * reliable `checkpoint` if executor loss matters more than the
    * HDFS round-trip). k = 2 caps the expansion at 16x; measured on
    * the two distributed-CC specs (120-node chain + persist path),
    * k = 4 (256x) took 5m53s against 24s at k = 2 — driver-side
    * analysis + explainString, not executor work, so the gap only
    * widens on a real cluster where driver cycles are the scarce
    * resource. k = 1 REGRESSES to 62s: the per-round truncation scan
    * + extra job overhead costs more than the 4x-smaller plan saves.
    * (All three measured on the same two specs, same JVM config.) */
  private val CheckpointEvery = 2

  /** Edge count above which [[distributedCC]] persists the per-round
    * `stepped` frame. Both sides of the pointer-jumping self-join read
    * it, and its two exchanges can never be reused (different
    * projections AND different keys — id vs label), so without a
    * persist the min-label join + neighbor-min aggregation compute
    * TWICE per round. Measured at bench scale (thousands of edges,
    * local[32]) the persist is a net LOSS — ~0.15 s/round of extra
    * job + cache-materialization overhead vs a double-compute that
    * whole-stage codegen makes nearly free on tiny data — while on a
    * 100-TB-derived pair graph (billions of edges) the double-computed
    * join dominates everything. Crossover is a few seconds of join
    * work; 2M edges is comfortably below any graph where the
    * double-compute hurts and above every graph where fixed overhead
    * shows. */
  private val PersistSteppedEdges = 2L * 1000 * 1000

  /** Distributed min-label + pointer-jumping loop (see
    * [[connectedComponents]] scaladoc for the contract).
    * `persistStepped` is decided by the caller from the already-counted
    * edge total (the [[PersistSteppedEdges]] tradeoff) — never
    * recounted here. */
  private def distributedCC(p: DataFrame, maxIters: Int,
                            persistStepped: Boolean, nEdges: Long): DataFrame = {
    // EDGE-COUNT-SIZED shuffling for the loop: every round runs 3-4
    // shuffling joins/aggs over the pair graph, and on a small graph
    // (thousands of edges — every sub-1M-edge corpus) each one at the
    // session's shuffle.partitions is almost pure task dispatch — the
    // measured ~5.5 s sf0.1 floor was rounds × empty-task scheduling,
    // not data. Size partitions to ~100k edges each (a few MB of
    // (id, label) rows — far under any spill threshold), clamped to
    // the session value so a billion-edge graph keeps its full
    // parallelism. The small setting lives on a CLONED session (own
    // SQLConf; SparkContext, cache manager and RDDs are shared), so a
    // query analyzed concurrently on the caller's session can never
    // inherit it — the previous set/restore around the loop was a
    // session-global mutation visible to every thread. Frames bridge
    // through the shared RDD layer in both directions: `p` keeps its
    // full-parallelism upstream plan (compiled before the bridge), and
    // the returned labels re-home to the caller's session.
    val sess = p.sparkSession
    val prevSp = sess.conf.get("spark.sql.shuffle.partitions")
    val loopSp = math.max(1L, math.min(prevSp.toLong, nEdges / 100000 + 1)).toString
    if (loopSp == prevSp) distributedCCLoop(p, maxIters, persistStepped)
    else {
      val loopSess = sess.newSession()
      loopSess.conf.set("spark.sql.shuffle.partitions", loopSp)
      val res = distributedCCLoop(
        loopSess.createDataFrame(p.rdd, p.schema), maxIters, persistStepped)
      sess.createDataFrame(res.rdd, res.schema)
    }
  }

  private def distributedCCLoop(p: DataFrame, maxIters: Int,
                                persistStepped: Boolean): DataFrame =
    Persisted.holding { hold =>
      val sym = hold(p.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(p.select(col("id_b").as("src"), col("id_a").as("dst"))))
      // round frames hand off: round i releases round i-1's labels once
      // it has materialized. A throw releases the live ones; the final
      // labels stay cached for the caller (LRU).
      Persisted.keeping { round =>
        var labels = round(sym.select(col("src").as("id")).distinct()
          .withColumn("label", col("id")))
        var it = 0
        var checks = 0
        var converged = false
        while (!converged && it < maxIters) {
          val nbrMin = sym
            .join(labels.select(col("id").as("dst"), col("label").as("__nl")), Seq("dst"))
            .groupBy(col("src")).agg(F.min(col("__nl")).as("__minNbr"))
          // persisted above the size crossover (see PersistSteppedEdges):
          // BOTH sides of the pointer-jumping self-join read this frame
          val steppedRaw = labels
            .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
            .select(col("id"), col("label").as("__old"),
              least(col("label"), coalesce(col("__minNbr"), col("label"))).as("label"))
          val stepped =
            if (persistStepped) {
              val s = round(steppedRaw)
              s.count() // materialize before the self-join races two scans
              s
            } else steppedRaw
          // pointer jumping: label := label(label) — doubles the horizon
          // each round, so convergence is logarithmic in the diameter
          val jumped = stepped
            .join(stepped.select(col("id").as("label"), col("label").as("__ll")),
              Seq("label"), "left")
            .select(col("id"), col("__old"),
              least(col("label"), coalesce(col("__ll"), col("label"))).as("label"))
          // the observed metric rides the SAME job that materializes the
          // round's cache: one count = materialization + fixpoint check
          val obs = org.apache.spark.sql.Observation(s"graft_cc_$it")
          val observed = jumped
            .observe(obs, coalesce(F.sum(when(col("label") < col("__old"), 1L)), lit(0L))
              .as("changed"))
          val next = round(observed.select(col("id"), col("label")))
          next.count()
          it += 1
          checks += 1
          converged = obs.get("changed").asInstanceOf[Long] == 0L
          if (persistStepped) round.release(stepped)
          round.release(labels)
          // periodic lineage truncation (see CheckpointEvery). Runs AFTER
          // the count so the observation has already fired; reads the
          // just-materialized cache, so the extra job is one cheap
          // (id, label) pass. eager=true: a lazy checkpoint would silently
          // defer the truncation to a consumer's first action.
          //
          // The persist path truncates EVERY round, not every 4: persist
          // does not shrink the logical plan, and each round references
          // the previous round's frame 4x (labels twice into stepped,
          // stepped twice into the self-join), so the DAG-expanded-to-tree
          // plan that AQE stringifies on every stage update
          // (onUpdatePlan -> explainString) grows ~4^rounds between
          // truncations. With the persist path's EXTRA per-round execution
          // (the materializing count) that stringification alone pegged a
          // driver core for 10+ minutes on a 30-edge test graph. A
          // per-round (id, label) checkpoint scan is noise next to the
          // edge joins at any scale where persistStepped engages.
          val cpInterval = if (persistStepped) 1 else CheckpointEvery
          labels =
            if (!converged && it % cpInterval == 0) {
              val cp = next.localCheckpoint(eager = true)
              round.release(next)
              cp
            } else next
        }
        if (!converged)
          System.err.println(s"[graft] connectedComponents hit maxIters=$maxIters " +
            "before fixpoint — labels may split components")
        lastCCStats = (it, checks)
        labels
      }
    }

  /** Duplicate-CLUSTER dedup: connected components over the verified
    * MinHash candidate graph, keeping each component's minimum id.
    * Unlike the greedy [[minhashDedup]] (drop-if-any-lower-neighbor),
    * near-duplication is treated as transitive: a star {A–C, B–C} is
    * ONE cluster keeping only A, where the greedy pass would keep A and
    * B. The standard choice for fuzzy-dedup pipelines; costs
    * O(diameter) extra join rounds over the pair graph, which is tiny
    * relative to the corpus (|pairs| ≈ duplicates, not rows).
    *
    * `keepBestBy`: None (default) keeps each cluster's minimum id;
    * `Some(scoreCol)` keeps the BEST-scoring member instead
    * ([[keepBestPerCluster]] — highest score, ties to smallest id),
    * the production rule when cluster members are not interchangeable
    * (keep the cleanest capture, the longest text). Either way the
    * returned frame has exactly `df`'s columns. */
  def minhashDedupCC(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 128, bands: Int = 32,
                     threshold: Double = 0.8, shingleSize: Int = 5,
                     maxIters: Int = 20, maxPartners: Int = 64,
                     localEdgeLimit: Long = 500L * 1000,
                     keepBestBy: Option[String] = None): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, numHashes, bands,
      threshold, shingleSize, maxPartners)
    keepBestBy match {
      case None =>
        val dups = connectedComponents(pairs.select(col("id_a"), col("id_b")),
            maxIters, localEdgeLimit)
          .filter(col("label") =!= col("id"))
          .select(col("id").as(idCol))
        df.join(dups, Seq(idCol), "left_anti")
      case Some(scoreCol) =>
        val labels = connectedComponents(pairs.select(col("id_a"), col("id_b")),
          maxIters, localEdgeLimit)
        keepBestPerCluster(df, idCol, scoreCol, labels).drop("label")
    }
  }

  // -------------------------------------------------------------------
  // embedding-cosine near-dup
  // -------------------------------------------------------------------

  /** Embedding-cosine near-dedup: drop every row whose vector is
    * ≥ `threshold` cosine-similar to a LOWER-id row (greedy min-id, the
    * same first-pass contract as [[minhashDedup]]). Candidates come
    * from banded hyperplane LSH ([[Similarity.lshNeighborPairs]]), so
    * the plan is bucket-join + verify — never all-pairs.
    *
    * The verify compares `round(cos, roundDigits) >= threshold` — the
    * granularity at which the cosine kernel is bit-identical across
    * engines — so the keep-set is reproducible against an exact
    * all-pairs re-computation (candidate generation runs one rounding
    * ulp below the threshold so boundary pairs are never pre-filtered
    * on the raw value). Recall is the LSH miss bound: a qualifying pair
    * escapes all bands with prob (1-p^nBits)^bands, p = 1-acos(c)/π —
    * size nBits/bands to the threshold (low thresholds need wider OR
    * amplification, e.g. nBits=4, bands=64 for c≈0.45 → miss ≈ 4e-6).
    *
    * SIZING IS MANDATORY for the integral-id path: hyperplane keys
    * partition SPACE, so a bucket holds ~corpus/2^nBits vectors and the
    * in-bucket verify materializes it in one aggregation row — set
    * nBits so buckets fit a task (2^nBits ≥ corpus/10^5, say). This is
    * inherent to the UNCAPPED verify contract (every lower-id partner
    * is checked — the property the LSH==exact equivalence proof
    * relies on), not to the implementation: the pair-join fallback
    * would shuffle the same quadratic candidate stream instead. For
    * capped large-corpus dedup semantics use [[minhashDedup]]-style
    * anchors (maxPartners) — deliberately NOT offered here to keep the
    * exactness contract honest.
    *
    * SELF-SIZING (r10 default): `nBits <= 0` derives the bucket space
    * from the corpus — one `count()` pass, then the smallest nBits
    * putting ≤ `targetBucketRows` vectors in a mean bucket
    * (`nBits = max(4, ceil(log2(corpus / targetBucketRows)))`). A
    * constant bucket LOAD is what makes the verify work linear in N
    * (`bands · N · targetBucketRows` cosine ops instead of
    * `bands · N² / 2^nBits` with a pinned nBits — the ×16 stress
    * sweep measured exactly that cliff, SCALING.md §stress): the
    * default 125 reproduces the experimentally-validated geometry
    * (nBits=4 at 2k vectors, nBits=8 at 32k). RECALL co-scaling (r11
    * default): `bands <= 0` derives the band count from (threshold,
    * useBits) to hold the pinned `missBound` — a qualifying pair
    * escapes all bands with prob (1-p^nBits)^bands, p=1-acos(t)/π, so
    * bands = ⌈ln(missBound)/ln(1-p^nBits)⌉ ([[autoBands]]). Auto-nBits
    * growing with the corpus therefore no longer silently worsens the
    * default caller's recall: COST stays linear (constant bucket load)
    * and the MISS BOUND stays pinned, with the band count paying for
    * both (at t=0.95, missBound=1e-3: 7 bands at nBits=4, 13 at 8,
    * 35 at 16, 86 at 24 — the price of pinned recall as the space
    * grows, linear in nBits·ln(miss) once p^nBits is small; an
    * unpayable geometry raises at plan time rather than degrading).
    * Explicit `nBits > 0` / `bands > 0` are always honored unchanged
    * — the certificate queries pin exact geometry for this reason.
    *
    * The sizing contract is ENFORCED: before the banding shuffle a
    * one-column `count()` estimates the mean bucket load
    * (corpus / 2^nBits) and anything above `bucketBudget` rows raises
    * an [[IllegalArgumentException]] naming the smallest adequate
    * nBits — a clear plan-time error instead of a task OOM hours into
    * a 100-TB run. The guard costs one columnar count scan (shared
    * with the auto-sizing count); pass `bucketBudget = 0` to skip it
    * when the caller has already sized the corpus (e.g. re-running a
    * known-good configuration). */
  /** Smallest nBits putting ≤ `targetBucketRows` vectors in a mean
    * LSH bucket: `max(4, ceil(log2(corpus / targetBucketRows)))` —
    * the floor keeps some spatial selectivity on tiny corpora. Pinned
    * by ReadersExtensionsSpec "autoNBits sizing formula". */
  private[graft] def autoNBits(corpus: Long, targetBucketRows: Long): Int = {
    require(targetBucketRows > 0, s"targetBucketRows must be positive: $targetBucketRows")
    val buckets = math.max(1L, (corpus + targetBucketRows - 1) / targetBucketRows)
    val bits =
      if (buckets <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.max(4, bits)
  }

  /** Auto-band cap: 256 bands at targetBucketRows=125 is 32k cosine
    * ops/row — past it the geometry is LSH-hostile (low threshold ×
    * wide bucket space) and silently paying more would be the wrong
    * default; the sizing raises instead (explicit `bands` overrides). */
  private[graft] val MaxAutoBands = 256

  /** Smallest band count holding the banded-LSH miss bound: a pair at
    * exactly `threshold` cosine collides in one band with prob
    * p^nBits, p = 1 - acos(threshold)/π, and escapes ALL bands with
    * prob (1-p^nBits)^bands — so bands = ⌈ln(missBound)/ln(1-p^nBits)⌉
    * pins per-pair miss ≤ missBound at the threshold (pairs above it
    * do strictly better: p rises with cosine). Floor 4 keeps OR
    * amplification non-degenerate on tiny spaces; over [[MaxAutoBands]]
    * raises with the geometry spelled out, the same plan-time-error
    * philosophy as the bucketBudget guard. threshold = 1.0 (exact-
    * direction dedup) is valid: every qualifying pair collides in
    * every band, so the floor count alone holds any bound. Pinned by
    * SelfSizingDefaultsSpec "autoBands recall formula". Shared by
    * [[embeddingDedup]] and [[Similarity.lshNeighborPairs]]. */
  private[graft] def autoBands(threshold: Double, nBits: Int,
                               missBound: Double = 1e-3): Int = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"autoBands needs a cosine threshold in (0,1]: $threshold")
    require(missBound > 0.0 && missBound < 1.0,
      s"missBound must be in (0,1): $missBound")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val pBand = math.pow(p, nBits.toDouble) // one-band collision prob
    val escape = 1.0 - pBand                // one-band miss prob
    val raw =
      if (escape <= 0.0) 1 // p^nBits == 1 within double: one band suffices
      else math.ceil(math.log(missBound) / math.log(escape)).toInt
    val b = math.max(4, raw)
    if (b > MaxAutoBands)
      throw new IllegalArgumentException(
        f"autoBands: holding miss<=$missBound%g at threshold=$threshold " +
          f"with nBits=$nBits needs $b bands (> $MaxAutoBands cap) — " +
          f"one-band collision prob p^nBits=$pBand%.3g is too small for OR " +
          "amplification to rescue cheaply. Lower nBits (denser buckets, " +
          "e.g. via a larger rows-per-bucket target), raise missBound, " +
          "or pass explicit bands to accept the cost.")
    b
  }

  def embeddingDedup(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, nBits: Int = 0,
                     bands: Int = 0, seed: Long = 42L,
                     roundDigits: Int = 6,
                     bucketBudget: Long = 200L * 1000,
                     targetBucketRows: Long = 125L,
                     missBound: Double = 1e-3): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val idType = df.schema(idCol).dataType
    // one count pass serves both the auto-sizer and the budget guard
    val corpusCnt: Long =
      if (nBits <= 0 || bucketBudget > 0) df.select(col(idCol)).count() else -1L
    val useBits = if (nBits > 0) nBits else autoNBits(corpusCnt, targetBucketRows)
    val useBands = if (bands > 0) bands else autoBands(threshold, useBits, missBound)
    val dups = idType match {
      case LongType | IntegerType =>
        // IN-BUCKET verify (graft.functions.CosineBucketDupsExpr): the
        // banding explode carries the vectors to their buckets and each
        // bucket verifies its own pairs in one tight loop. One shuffle
        // of corpus × bands vector rows, NO candidate-pair shuffle —
        // the winning shape when OR amplification is wide (low
        // thresholds), where the bare-id candidate stream is dominated
        // by pairs colliding in many bands at once. Result set is
        // bit-identical to the pair-join path (same accumulation order,
        // same HALF_UP rounding; see the kernel scaladoc).
        if (bucketBudget > 0) {
          val corpus = corpusCnt
          val estPerBucket = corpus >> useBits
          if (estPerBucket > bucketBudget) {
            val needed = 64 - java.lang.Long.numberOfLeadingZeros(
              math.max(1L, (corpus + bucketBudget - 1) / bucketBudget - 1))
            throw new IllegalArgumentException(
              s"embeddingDedup: nBits=$useBits puts ~$estPerBucket rows " +
                s"(corpus=$corpus / 2^$useBits buckets) into ONE in-bucket verify " +
                s"aggregation row — over bucketBudget=$bucketBudget and headed " +
                s"for a task OOM, not a wrong answer. Use nBits >= $needed " +
                s"(and re-check recall: miss prob is (1-p^nBits)^bands), " +
                s"or raise bucketBudget if tasks have the memory, " +
                s"or bucketBudget=0 to skip this guard.")
          }
        }
        // null ids cannot participate in min-id dedup (they'd read as 0
        // via getLong and masquerade as id 0 in the kernel); drop them
        // from the candidate side so they survive via the left_anti,
        // mirroring the pair-join fallback's null-safe join semantics.
        val keyed = df.filter(col(idCol).isNotNull)
          .select(col(idCol).cast("long").as("__id"),
          col(vecCol).as("__v"),
          graft.functions.Kernels.cosineLshBands(col(vecCol), useBands, useBits, seed)
            .as("__keys"))
        // posexplode_OUTER + explicit null-key filter, NOT a plain
        // posexplode (r14 measured): InferFiltersFromGenerate sees the
        // generator child as the cheap attribute `__keys`, infers
        // size(__keys) > 0 AND isnotnull(__keys), and predicate
        // pushdown then substitutes the BANDING KERNEL through the
        // projection — the kernel (the corpus-pass dominant cost at
        // wide band counts) evaluated 3× per row, at the scan, before
        // any repartition (SPARK-36715's cheap-expression guard cannot
        // see through the alias). Outer generates skip filter
        // inference entirely; the explicit filter reproduces the
        // dropped rows exactly (null __key ⇔ null __keys ⇔ null
        // vector — the element type is non-nullable). Measured at ×64:
        // the banding+explode stage 15.8 s → one kernel eval/row.
        keyed
          .select(col("__id"), col("__v"),
            posexplode_outer(col("__keys")).as(Seq("__band", "__key")))
          .filter(col("__key").isNotNull)
          .groupBy(col("__band"), col("__key"))
          .agg(collect_list(struct(col("__id"), col("__v"))).as("__bucket"))
          .select(explode(graft.functions.Kernels.cosineBucketDups(
            col("__bucket"), threshold, roundDigits)).as("__dup"))
          .select(col("__dup").cast(idType).as(idCol)).distinct()
      case _ =>
        // non-integral ids: bare-id candidate pairs + verify joins
        val eps = math.pow(10.0, -roundDigits)
        Similarity.lshNeighborPairs(df, idCol, vecCol, useBits, useBands,
          threshold - eps, seed)
          .filter(F.round(col("cos_sim"), roundDigits) >= threshold)
          .select(col("id_b").as(idCol)).distinct()
    }
    df.join(dups, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic dedup: k-means-cluster the embedding
    * space, then drop every row with a LOWER-id row at ≥ `threshold`
    * cosine inside the SAME cluster (greedy min-id, the repo's
    * standard first-pass keep rule). The published recipe for pruning
    * semantically redundant training data (Abbas et al. 2023,
    * arXiv:2303.09540): clustering bounds the candidate set, the
    * within-cluster pass is EXACT — reuses [[embeddingDedup]]'s
    * in-bucket verify kernel, so the keep-set inside a cluster is
    * bit-identical to an all-pairs greedy over that cluster at
    * `roundDigits` granularity. The approximation is only the cluster
    * boundary: a near-dup pair split across clusters survives (miss
    * rate falls as nLists shrinks or refineIters grows; for guaranteed
    * recall at a radius use [[embeddingDedup]], which buckets by the
    * pair geometry instead of global structure).
    *
    * Scale shape: centroids aggregate in one pass (k-means|| init +
    * Lloyd refine, broadcast-only — [[Similarity.centroids]]); the
    * assignment is map-only against broadcast centroids; the single
    * shuffle groups (cluster, id, vec) by cluster id. No id is in two
    * clusters, so no distinct over the drop set and no candidate-pair
    * shuffle anywhere. A cluster must fit one aggregation row — the
    * SAME sizing contract as embeddingDedup's buckets, ENFORCED here
    * by an exact per-cluster count pre-pass (costs one extra map-only
    * assignment scan + an 8-byte-key shuffle; k-means loads clusters
    * ~corpus/nLists on mixing data, but a degenerate embedding column
    * — all-equal vectors — collapses into ONE cluster, and that must
    * raise before the collect_list OOMs, not after). Pass
    * `clusterBudget = 0` to skip the guard on a pre-sized corpus. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double = 0.95, nLists: Int = 0,
                    refineIters: Int = 1, seed: Long = 42L,
                    roundDigits: Int = 6,
                    clusterBudget: Long = 200L * 1000): DataFrame = {
    requireIntegralId(df, idCol) // BEFORE the clustering burns a k-means pass
    val cents = semanticCentroids(df, idCol, vecCol, nLists, refineIters, seed)
    semanticDedupWithCentroids(df, idCol, vecCol, threshold, cents,
      roundDigits, clusterBudget)
  }

  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    df.schema(idCol).dataType match {
      case LongType | IntegerType => ()
      case other => throw new IllegalArgumentException(
        s"semanticDedup needs an integral id column for the min-id keep " +
          s"rule, got $idCol: $other")
    }
  }

  /** The operator's exact clustering, collected ONCE to a driver-local
    * literal frame (nLists rows) — the handle certificate queries use
    * to recompute the keep-rule independently against the SAME
    * floating-point centroids [[semanticDedup]] assigned with. Lloyd
    * refinement's distributed avg() is accumulation-order sensitive
    * (shuffle fetch order), so re-DERIVING centroids in a twin plan
    * can flip a near-boundary assignment by an ulp; reusing the
    * literal rows makes the twin's assignment bit-identical by
    * construction and leaves only the keep-rule independent.
    * `nLists <= 0` self-sizes (r11 default): ceil(corpus/1000) lists,
    * floored at 16 so tiny corpora still partition, capped at 2^16
    * because the centroid table must broadcast to every task (beyond
    * that use [[embeddingDedup]], whose bucket space is free) — a
    * bounded mean cluster LOAD keeps the in-cluster verify linear in
    * N, the same rationale as [[autoNBits]]. */
  def semanticCentroids(df: DataFrame, idCol: String, vecCol: String,
                        nLists: Int = 0, refineIters: Int = 1,
                        seed: Long = 42L): DataFrame = {
    val nonNull = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
    val lists =
      if (nLists > 0) nLists
      else {
        val c = nonNull.count()
        math.min(1 << 16, math.max(16L, (c + 999L) / 1000L)).toInt
      }
    // centroids are nLists rows — collect them once into a local
    // frame, instead of cache(): a cached plan would either leak (no
    // handle to unpersist after the lazy result materializes) or
    // recompute per action; the guard's count pass and the dedup plan
    // both read the literal rows
    Persisted.localize(Similarity.centroids(nonNull, idCol, vecCol, lists,
      refineIters, seed))._1
  }

  /** [[semanticDedup]] against pre-collected centroid rows (from
    * [[semanticCentroids]] or a persisted table): assignment is
    * map-only against the literal centroids, then the standard
    * in-cluster exact greedy. Lets a certificate (or a train-once
    * pipeline) share one clustering across consumers. */
  def semanticDedupWithCentroids(df: DataFrame, idCol: String, vecCol: String,
                                 threshold: Double, cents: DataFrame,
                                 roundDigits: Int = 6,
                                 clusterBudget: Long = 200L * 1000): DataFrame = {
    requireIntegralId(df, idCol)
    val idType = df.schema(idCol).dataType
    // null ids AND null vectors sit out the whole pass — neither can
    // participate in min-id dedup (a null vector would reach the
    // in-cluster kernel as a null array and NPE; embeddingDedup drops
    // them at the banding projection instead) — and both survive via
    // the left_anti, the repo's unhashable-rows-survive rule.
    val nonNull = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
    lazy val lists = cents.count() // local literal rows; guard message only
    // ONE assignment kernel pass serves the budget guard AND the dedup
    // plan (r14: the guard's max-cluster count used to re-derive the
    // full bestCosine assignment — a second corpus pass per call).
    // Persisted only while the guard needs it (released if the guard
    // refuses or fails, LRU after the lazy result); without the guard
    // the plan reads the assignment lazily exactly once, as before.
    val assignedRaw = Similarity.assignLists(nonNull, idCol, vecCol, cents)
    val assigned =
      if (clusterBudget <= 0) assignedRaw
      else Persisted.keeping { hold =>
        val a = hold(assignedRaw)
        val maxSz = a.groupBy(col("list_id"))
          .agg(F.count(lit(1)).as("__n"))
          .agg(F.coalesce(F.max(col("__n")), lit(0L)).as("__m"))
          .head().getLong(0)
        if (maxSz > clusterBudget)
          throw new IllegalArgumentException(
            s"semanticDedup: the largest cluster holds $maxSz rows — over " +
              s"clusterBudget=$clusterBudget and headed for a task OOM in the " +
              s"in-cluster verify. Raise nLists (now $lists) or refineIters " +
              s"to split it, raise clusterBudget if tasks have the memory, " +
              s"or clusterBudget=0 to skip this guard.")
        a
      }
    val dups = assigned
      .select(col("list_id"),
        col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .groupBy(col("list_id"))
      .agg(collect_list(struct(col("__id"), col("__v"))).as("__bucket"))
      .select(explode(graft.functions.Kernels.cosineBucketDups(
        col("__bucket"), threshold, roundDigits)).as("__dup"))
      .select(col("__dup").cast(idType).as(idCol))
    df.join(dups, Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------------
  // n-gram Jaccard
  // -------------------------------------------------------------------

  /** Exact character-n-gram Jaccard similarity between two text columns
    * (row-local; for pair generation use an LSH pass first). */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val sa = TextFunctions.shingles(a, n)
    val sb = TextFunctions.shingles(b, n)
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(array_union(sa, sb)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Verified near-dup pairs: MinHash-LSH candidates re-scored with the
    * exact n-gram Jaccard — the standard candidate→verify shape. The
    * shingle sets are computed ONCE per document (staged projection) and
    * joined to the candidate pairs; the verify step is then pure
    * in-memory array intersect/union.
    *
    * `maxPartners` defaults to UNCAPPED here, unlike the dedup entry
    * points: this is the audit op whose contract is the complete
    * high-Jaccard pair list, and a capped bucket join would silently
    * omit pairs between two ids both ranked past the cap in a large
    * duplicate cluster. Pass a cap explicitly when auditing corpora
    * with degenerate clusters. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.7, n: Int = 3,
                   numHashes: Int = 64, bands: Int = 16,
                   maxPartners: Int = Int.MaxValue): DataFrame = {
    val cand = minhashPairs(df, idCol, textCol, numHashes, bands,
      threshold = math.min(threshold, 0.5), shingleSize = n,
      maxPartners = maxPartners)
    val sh = df
      .select(col(idCol).as("__id"), TextFunctions.normalizeText(col(textCol)).as("__norm"))
      .select(col("__id"), TextFunctions.shinglesFromNormalized(col("__norm"), n).as("__sh"))
    val inter = size(array_intersect(col("__sha"), col("__shb"))).cast("double")
    val uni = size(array_union(col("__sha"), col("__shb"))).cast("double")
    cand
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("__shb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        when(uni === 0, lit(0.0)).otherwise(inter / uni).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** QUALITY-AWARE cluster representative selection: keep the
    * best-scoring member of each near-dup cluster, not the min-id one.
    * Production pipelines pick the cleanest capture of a boilerplate
    * cluster (highest quality score, longest text, freshest crawl) —
    * min-id keep is only the right default when members are
    * interchangeable.
    *
    * `labels` is a `(id, label)` frame as produced by
    * [[connectedComponents]]; rows of `df` absent from it are
    * singletons and keep themselves (the pair graph only carries
    * nodes with at least one edge). Returns one row per cluster with
    * `df`'s columns plus `label`. The keep rule is deterministic:
    * highest `scoreCol`, ties to the SMALLEST id (any orderable id
    * type — the tie-break uses `min`, not a struct trick that would
    * need numeric negation). A cluster whose scores are all null
    * keeps its smallest id. Null ids refuse — silently pooling them
    * under one null label would merge unrelated rows into one
    * "cluster" and drop all but one.
    *
    * Scale shape: singletons NEVER enter an exchange. The argmax runs
    * over cluster MEMBERS only (the inner join with `labels` — a
    * table that, like the pair graph, scales with the duplicates, not
    * the corpus), so the best-score agg, the tie-break agg, and the
    * loser set are all duplicate-scale; the corpus pays exactly one
    * anti-join against the (duplicate-scale, broadcast-able) loser
    * ids and one left join against `labels` for the output label
    * column. Routing the whole corpus through the label aggregates
    * instead would shuffle every row on a near-unique key for
    * nothing — singletons always keep themselves. The members
    * projection is persisted (three consumers; duplicate-scale rows,
    * LRU-evicted). */
  def keepBestPerCluster(df: DataFrame, idCol: String, scoreCol: String,
                         labels: DataFrame): DataFrame = {
    require(!df.columns.contains("label") && !df.columns.contains("__best"),
      "keepBestPerCluster appends 'label' (and uses '__best' internally) — " +
        "rename the input's clashing column first")
    val idType = df.schema(idCol).dataType
    val guarded = df.withColumn(idCol,
      when(col(idCol).isNull, raise_error(
        lit(s"keepBestPerCluster: null $idCol — labels cannot address it"))
        .cast(idType))
        .otherwise(col(idCol)))
    val lab = labels.select(col("id").as(idCol), col("label"))
    val members = guarded.select(col(idCol), col(scoreCol))
      .join(lab, Seq(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val best = members.groupBy(col("label"))
      .agg(max(col(scoreCol)).as("__best"))
    val repIds = members.join(best, Seq("label"))
      .filter(col(scoreCol) <=> col("__best"))
      .groupBy(col("label")).agg(min(col(idCol)).as(idCol))
    val losers = members.select(col(idCol))
      .join(repIds.select(col(idCol)), Seq(idCol), "left_anti")
    guarded.join(losers, Seq(idCol), "left_anti")
      .join(lab, Seq(idCol), "left")
      .withColumn("label", coalesce(col("label"), col(idCol)))
      .select((col("label") +: df.columns.map(col)).toIndexedSeq: _*)
  }
}
