package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the text/vector kernels that the
  * built-in higher-order functions execute too slowly (HOFs are
  * interpreted per element; these run one tight JVM loop per row).
  * All are deterministic, null-safe, and ANSI-clean (plain JVM long
  * arithmetic — no expression-level overflow checks to trip).
  *
  * Column wrappers at the bottom (`Kernels.minhashSig` etc.).
  */
object Kernels {

  private[functions] val P31 = 2147483647L // 2^31 - 1

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  /** Misuse of a kernel must fail at ANALYSIS, not mid-task on a
    * 100-TB scan: shared input-type validators for the kernels below
    * (same refuse-early contract as CosineBucketDupsExpr's). */
  private[functions] def requireString(name: String, dt: DataType): TypeCheckResult =
    dt match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name expects a string column, got ${other.sql}")
    }

  private[functions] def requireNumericArray(name: String, dt: DataType): TypeCheckResult =
    dt match {
      case ArrayType(FloatType | DoubleType | LongType | IntegerType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name expects array<float|double|int|long>, got ${other.sql}")
    }

  /** Element reader of a numeric array type (see [[requireNumericArray]])
    * as a double — the one getter of the vector and PQ kernels, which
    * each cache it per instance. */
  private[functions] def doubleGetter(dt: DataType, name: String): (ArrayData, Int) => Double =
    dt.asInstanceOf[ArrayType].elementType match {
      case FloatType   => (a, i) => a.getFloat(i).toDouble
      case DoubleType  => (a, i) => a.getDouble(i)
      case LongType    => (a, i) => a.getLong(i).toDouble
      case IntegerType => (a, i) => a.getInt(i).toDouble
      case other => throw new IllegalArgumentException(s"$name over $other")
    }

  /** splitmix64 finalizer — the hash-family parameter source (same
    * scheme as graft.ml.Dedup.hashParams). */
  private[graft] def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  import org.apache.spark.sql.graftkit.Bridge.{column, expression}

  def minhashSig(norm: Column, numHashes: Int, shingleSize: Int): Column =
    column(MinHashSigExpr(expression(norm), numHashes, shingleSize))

  def simhash64(text: Column): Column = column(SimHash64Expr(expression(text)))

  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimExpr(expression(a), expression(b)))

  def bestCosine(vec: Column, cands: Column): Column =
    column(BestCosineExpr(expression(vec), expression(cands)))

  def cosineLshBands(vec: Column, bands: Int, bitsPerBand: Int, seed: Long): Column =
    column(CosineLshBandsExpr(expression(vec), bands, bitsPerBand, seed))

  def cosineBucketDups(bucket: Column, threshold: Double, roundDigits: Int): Column =
    column(CosineBucketDupsExpr(expression(bucket), threshold, roundDigits))

  def minhashAnchorDrop(id: Column, sig: Column, anchors: Column,
                        numHashes: Int, threshold: Double): Column =
    column(MinHashAnchorDropExpr(expression(id), expression(sig),
      expression(anchors), numHashes, threshold))

  def repetitionStats(norm: Column): Column =
    column(RepetitionStatsExpr(expression(norm)))

  def wordNgramHashes(tokens: Column, n: Int): Column =
    column(WordNgramHashExpr(expression(tokens), n))

  def bpeEncode(tokens: Column, merges: Seq[(String, String)],
                endOfWord: String = "</w>"): Column =
    column(BpeEncodeExpr(expression(tokens), merges, endOfWord))

  def nbScoreSum(tokens: Column, llrMicro: Map[String, Long],
                 unseenLlrMicro: Long): Column =
    column(NbScoreSumExpr(expression(tokens), llrMicro, unseenLlrMicro))

  def deflateRatio(text: Column): Column =
    column(DeflateRatioExpr(expression(text)))

  def charNgramHashes(text: Column, n: Int): Column =
    column(CharNgramHashExpr(expression(text), n))

  def cutSpans(text: Column, starts: Column, n: Int): Column =
    column(CutSpansExpr(expression(text), expression(starts), n))

  /** `refHashes` is defensively copied + sorted; pass the output of
    * `ExactSubstr.compileReference` (already sorted) or any gram-hash
    * set produced by [[charNgramHashes]] with the same n. */
  def cutSharedSpans(text: Column, refHashes: Array[Long], n: Int): Column = {
    val sorted = refHashes.clone()
    java.util.Arrays.sort(sorted)
    column(CutSharedSpansExpr(expression(text), sorted, n))
  }

  def sortableDoubleBits(value: Column): Column =
    column(SortableDoubleBitsExpr(expression(value)))

  def bucketIdx(value: Column, cuts: Array[Double]): Column =
    column(BucketIdxExpr(expression(value), cuts))

  /** Evaluate-once barrier: value/type/nullability of `c`, marked
    * NON-deterministic so the optimizer may not duplicate, inline, or
    * push predicates through it. The `withColumn("q", expensive)
    * .filter($"q" >= t)` pattern otherwise has PushDownPredicates
    * substitute the WHOLE expression into the pushed filter condition
    * — and unlike CollapseProject (SPARK-36718) the predicate rules
    * carry no cheap-expression guard, so a score formula referencing
    * its tokenization N times lands N expanded copies at the scan
    * (q_pipeline/q_ingest_pipeline measured ~10 stripHtml+tokenize
    * evaluations per row). Same remedy class as marking an expensive
    * UDF non-deterministic; the value is in fact deterministic — the
    * flag only disables rearrangement, never changes a result. */
  def once(c: Column): Column = column(BarrierExpr(expression(c)))

  /** Rolling-hash base shared by [[CharNgramHashExpr]] and
    * [[CutSharedSpansExpr]] — the two MUST agree or the compiled cut
    * path would silently diverge from the join path. */
  private[functions] val RollA = 0x9E3779B97F4A7C15L // odd → invertible mod 2^64
}

/** MinHash signature over character shingles of an (already normalized)
  * string: shingle hashes by rolling polynomial hash folded to 31 bits,
  * then sig_i = min_j (a_i * h_j + b_i) mod (2^31-1). One row = one
  * O(len × numHashes) primitive loop, no intermediate arrays.
  *
  * Spark-first note: this replaces a transform/aggregate HOF pipeline
  * that evaluated interpreted expression trees per array element —
  * same math, ~50× less overhead at 100 TB scan scale. */
case class MinHashSigExpr(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    Kernels.requireString("minhash_sig", child.dataType)

  @transient private lazy val as: Array[Long] =
    Array.tabulate(numHashes)(i => ((Kernels.mix(i.toLong * 2 + 1) >>> 33) % (Kernels.P31 - 1)) + 1)
  @transient private lazy val bs: Array[Long] =
    Array.tabulate(numHashes)(i => (Kernels.mix(i.toLong * 2 + 2) >>> 33) % Kernels.P31)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = shingleSize
    val len = s.length
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val P = Kernels.P31
    if (len == 0) {
      java.util.Arrays.fill(sig, 0L)
      return new GenericArrayData(sig)
    }
    // rolling polynomial hash over code units, base 257, folded to 31 bits
    val B = 257L
    var bPow = 1L // B^(n-1) mod P
    var k = 1
    while (k < n) { bPow = bPow * B % P; k += 1 }
    var h = 0L
    var i = 0
    val last = math.max(len - n, 0)
    while (i < math.min(n, len)) { h = (h * B + s.charAt(i)) % P; i += 1 }
    var j = 0
    while (j <= last) {
      // update minima for this shingle hash h
      var m = 0
      while (m < numHashes) {
        val v = (as(m) * h + bs(m)) % P
        if (v < sig(m)) sig(m) = v
        m += 1
      }
      // roll window [j+1, j+n)
      if (j + n < len) {
        h = (h + P * B - s.charAt(j) * bPow % P) % P
        h = (h * B + s.charAt(j + n)) % P
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over lowercase alphanumeric tokens: per token a
  * splitmix64 hash votes ±1 on each bit; the sign vector is the hash.
  * One char-walk per row — no regex, no arrays. */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    Kernels.requireString("simhash64", child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val votes = new Array[Int](64)
    var i = 0
    val len = s.length
    var tokHash = 1125899906842597L
    var inTok = false
    def flush(): Unit = if (inTok) {
      val h = Kernels.mix(tokHash)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      tokHash = 1125899906842597L
      inTok = false
    }
    while (i < len) {
      val c = s.charAt(i)
      if (Character.isLetterOrDigit(c) || c == '\'') {
        tokHash = 31 * tokHash + Character.toLowerCase(c)
        inTok = true
      } else flush()
      i += 1
    }
    flush()
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Multi-band random-hyperplane LSH keys for cosine similarity: band b
  * gets `bitsPerBand` sign bits of projections onto deterministic
  * hash-derived ±1 hyperplanes (no stored plane table). Two vectors at
  * angle θ agree on one bit with prob 1-θ/π, on a band with that to the
  * bitsPerBand'th power, and miss ALL bands with the complement to the
  * bands'th power — the same amplification scheme as MinHash banding.
  * One JVM loop per row (bands × bits × dim sign-dot-products); the HOF
  * formulation of the same math is interpreted per element and
  * re-evaluates the projection expression per bit.
  *
  * r12 hot-path rework, key-BIT-IDENTICAL by construction: the r11 ×64
  * stress record blamed embed_dedup's 125 s on "~1G kernel verifies",
  * but the flop audit says the verify is seconds — the wall was THIS
  * expression recomputing `mix(planeBase + d)` per (band, bit, dim)
  * per row (auto geometry at 128k vectors: 125×10×64 = 80k hash mixes
  * AND 80k ArrayData getter calls per row, ~10G of each corpus-wide).
  * The planes depend only on (bands, bitsPerBand, seed, dim), so the
  * ±1 signs are now materialized ONCE per distinct dim into a flat
  * double table (~640 KB at the stress geometry, one per expression
  * instance per JVM) and each row is unpacked ONCE into a dense double
  * array — the projection becomes a pure dense mat-vec in the same
  * d-ascending accumulation order with the same sign VALUES, so every
  * projection double (and therefore every key bit) is identical to the
  * hash-per-element formulation's. */
case class CosineLshBandsExpr(child: Expression, bands: Int, bitsPerBand: Int,
                              seed: Long)
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    Kernels.requireNumericArray("cosine_lsh_bands", child.dataType)

  @transient private lazy val get = Kernels.doubleGetter(child.dataType, "cosine LSH")

  /** ±1.0 plane table, layout [(b·bitsPerBand + i)·dim + d] — exactly
    * `if ((mix(((b·bits+i)·1000003 + seed)·31 + d) & 1) != 0) 1 else -1`.
    * Keyed by dim (vectors are fixed-dim in practice; a ragged corpus
    * just builds one table per distinct dim it contains). */
  @transient private lazy val signCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  private def signsFor(dim: Int): Array[Double] =
    signCache.computeIfAbsent(dim, d => {
      val planes = bands * bitsPerBand
      val t = new Array[Double](planes * d)
      var p = 0
      while (p < planes) {
        val planeBase = (p.toLong * 1000003L + seed) * 31L
        var j = 0
        while (j < d) {
          t(p * d + j) =
            if ((Kernels.mix(planeBase + j) & 1L) != 0L) 1.0 else -1.0
          j += 1
        }
        p += 1
      }
      t
    })

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val signs = signsFor(dim)
    // unpack once: the getter was previously called bands×bits×dim
    // times per row
    val vd = new Array[Double](dim)
    var d = 0
    while (d < dim) { vd(d) = get(v, d); d += 1 }
    val keys = new Array[Long](bands)
    var b = 0
    var base = 0 // (b·bitsPerBand + i) · dim, walked linearly
    while (b < bands) {
      var key = 0L
      var i = 0
      while (i < bitsPerBand) {
        var proj = 0.0
        d = 0
        while (d < dim) {
          proj += vd(d) * signs(base + d)
          d += 1
        }
        if (proj > 0) key |= (1L << i)
        base += dim
        i += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** In-bucket pairwise cosine verify for LSH dedup: input is one bucket
  * as `array<struct<id: long, vec: array<float|double>>>`; output the
  * DISTINCT ids that have a LOWER-id bucket partner with
  * `round(cos, roundDigits) >= threshold` — i.e. the rows a greedy
  * min-id dedup drops, as far as this bucket can see.
  *
  * Why this shape: at low thresholds the OR-amplified banding makes a
  * random pair collide in MANY bands, so the bare-id formulation
  * (explode → self-join → distinct pairs → two vector joins → verify)
  * shuffles tens of millions of redundant candidate rows. Carrying the
  * vectors INTO the bucket turns all of that into one modest shuffle
  * (corpus × bands vector rows) plus tight in-task loops: vectors are
  * unpacked once per bucket, norms precomputed (the per-pair work drops
  * to one dot product), duplicates deduped in-bucket before emission.
  *
  * Bit-compatibility: dot and per-vector norms accumulate in index
  * order exactly like [[CosineSimExpr]] (norms are pair-independent, so
  * hoisting them preserves every bit), and rounding is
  * BigDecimal HALF_UP — the same as Spark's `round` on doubles — so the
  * result set is identical to the bare-id verify path's.
  *
  * int8 PRE-VERIFY (r12): proving a DUP-FREE corpus clean makes every
  * pair pay a full double-precision dot just to conclude "below
  * threshold". (The r11 record blamed the whole ×64 125 s arm on this
  * verify; measuring this pre-verify alone — 125.3 → 120.9 s — exposed
  * that the real wall was the BANDING projection, fixed in
  * [[CosineLshBandsExpr]]. The pre-verify stays: it is provably
  * keep-set-neutral and prunes the verify stage wherever that stage
  * does dominate — wide dims, dup-light buckets.) Each bucket member is
  * additionally quantized ONCE to symmetric int8 codes
  * (`s = maxAbs/127`, `q = round(v/s)`, so `|v − q·s| ≤ s/2` per
  * component — the same half-step bound [[graft.ml.Quantize]] pins),
  * and each pair first takes the BYTE dot. The reconstruction error is
  * bounded EXACTLY, not estimated:
  * `|dot(a,b) − ŝ| ≤ (s_b/2)·ℓ1(â) + (s_a/2)·ℓ1(b̂) + n·s_a·s_b/4`
  * (split `a = â + e_a`, `b = b̂ + e_b`, Hölder each cross term), with
  * `ℓ1(â)` precomputed per vector. A pair whose cosine upper bound
  * `(ŝ + err)/(‖a‖‖b‖)` sits below `threshold − 0.5·10^-roundDigits −
  * 1e-9` cannot round HALF_UP to ≥ threshold (the 1e-9 slack dwarfs
  * the ~1e-15-relative double accumulation error at any embedding
  * dim), so it skips the exact dot; everything else — real dups and
  * the ε-band around the threshold — takes the UNCHANGED exact path.
  * The keep-set is therefore provably identical; the q_embed_dedup
  * LSH≡exact in-query certificate stays the gate. Pairs with ragged
  * dims, zero scales, or non-finite components fall through to the
  * exact path (the bound does not hold there; the exact path's
  * NaN-never-drops semantics do). */
case class CosineBucketDupsExpr(child: Expression, threshold: Double, roundDigits: Int)
    extends UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** Misuse must fail at ANALYSIS, not mid-task: the bucket shape is
    * `array<struct<long, array<numeric>>>` and anything else means the
    * caller bypassed [[graft.ml.Dedup.embeddingDedup]]'s packing. */
  override def checkInputDataTypes(): TypeCheckResult = {
    def fail = TypeCheckResult.TypeCheckFailure(
      s"cosine_bucket_dups expects array<struct<id: long, vec: array<float|double|int|long>>>, got ${child.dataType.sql}")
    child.dataType match {
      case ArrayType(st: StructType, _) if st.length == 2 =>
        (st(0).dataType, st(1).dataType) match {
          case (LongType, ArrayType(FloatType | DoubleType | LongType | IntegerType, _)) =>
            TypeCheckResult.TypeCheckSuccess
          case _ => fail
        }
      case _ => fail
    }
  }

  @transient private lazy val get = Kernels.doubleGetter(
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType](1).dataType,
    "cosine")

  /** Spark's Round on doubles guards NaN/Infinity and passes them
    * through (so NaN >= threshold is simply false); BigDecimal.valueOf
    * would throw on them instead — replicate the guard (zero-norm
    * vectors produce 0/0 = NaN cosines). */
  private def roundHalfUp(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(roundDigits, java.math.RoundingMode.HALF_UP).doubleValue()

  override def nullSafeEval(input: Any): Any = {
    val bucket = input.asInstanceOf[ArrayData]
    val m = bucket.numElements()
    if (m < 2) return new GenericArrayData(Array.empty[Long])
    // unpack once: ids, dense double vectors, norms (index-order sums,
    // identical to CosineSimExpr's accumulation)
    val ids = new Array[Long](m)
    val vecs = new Array[Array[Double]](m)
    val norms = new Array[Double](m)
    var i = 0
    while (i < m) {
      val row = bucket.getStruct(i, 2)
      ids(i) = row.getLong(0)
      val ad = row.getArray(1)
      val dim = ad.numElements()
      val v = new Array[Double](dim)
      var d = 0
      var nn = 0.0
      while (d < dim) { val x = get(ad, d); v(d) = x; nn += x * x; d += 1 }
      vecs(i) = v
      norms(i) = math.sqrt(nn)
      i += 1
    }
    // int8 pre-verify state (see the scaladoc): symmetric per-vector
    // codes + scale + ℓ1 of the reconstruction, one O(dim) pass per
    // member — noise next to the O(m²·dim/2) pair loop it prunes
    val codes = new Array[Array[Byte]](m)
    val scales = new Array[Double](m)
    val l1q = new Array[Double](m)
    i = 0
    while (i < m) {
      val v = vecs(i)
      var maxAbs = 0.0
      var d = 0
      while (d < v.length) {
        val a = math.abs(v(d)); if (a > maxAbs) maxAbs = a; d += 1
      }
      val s = maxAbs / 127.0
      val q = new Array[Byte](v.length)
      var l1 = 0L
      // s == 0 (zero vector), non-finite s (Inf/NaN components), or a
      // dim past the int-accumulator bound: codes stay zero and the
      // pair loop below routes to the exact path via the scale guard
      if (s > 0 && java.lang.Double.isFinite(s) && v.length < 100000) {
        d = 0
        while (d < v.length) {
          val c = Math.round(v(d) / s).toInt // |c| <= 127 by construction
          q(d) = c.toByte
          l1 += math.abs(c)
          d += 1
        }
        scales(i) = s
      } else scales(i) = -1.0
      codes(i) = q
      l1q(i) = s * l1
      i += 1
    }
    // a pair can only round HALF_UP to >= threshold if its exact cosine
    // clears this line — everything provably below skips the exact dot
    val skipLine = threshold - 0.5 * math.pow(10.0, -roundDigits) - 1e-9
    val dropped = new java.util.HashSet[Long]()
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        val (lo, hi) = if (ids(i) < ids(j)) (i, j) else (j, i)
        if (ids(lo) != ids(hi) && !dropped.contains(ids(hi))) {
          val a = vecs(i); val b = vecs(j)
          var needExact = true
          if (a.length == b.length && scales(i) > 0 && scales(j) > 0) {
            val qa = codes(i); val qb = codes(j)
            var acc = 0L
            var d = 0
            while (d < qa.length) { acc += qa(d) * qb(d); d += 1 }
            val si = scales(i); val sj = scales(j)
            val errDot = 0.5 * sj * l1q(i) + 0.5 * si * l1q(j) +
              0.25 * qa.length * si * sj
            val cosMax = (si * sj * acc + errDot) / (norms(i) * norms(j))
            if (cosMax < skipLine) needExact = false
          }
          if (needExact) {
          val cos =
            if (a.length == b.length) {
              var dot = 0.0
              var d = 0
              while (d < a.length) { dot += a(d) * b(d); d += 1 }
              dot / (norms(i) * norms(j))
            } else {
              // ragged dims: CosineSimExpr truncates the dot AND both
              // norms to the shorter length — recompute pairwise so the
              // result stays bit-identical to the pair-join path
              val dim = math.min(a.length, b.length)
              var dot = 0.0; var na = 0.0; var nb = 0.0
              var d = 0
              while (d < dim) {
                val x = a(d); val y = b(d)
                dot += x * y; na += x * x; nb += y * y
                d += 1
              }
              dot / (math.sqrt(na) * math.sqrt(nb))
            }
          if (roundHalfUp(cos) >= threshold)
            dropped.add(ids(hi))
          }
        }
        j += 1
      }
      i += 1
    }
    val out = new Array[Long](dropped.size())
    val it = dropped.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Anchor-probe MinHash verify: does this row's signature agree with
  * any LOWER-id anchor at estimated Jaccard >= threshold? `anchors` is
  * the bucket's bounded k-smallest member list
  * (`array<struct<id: long, sig: array<long>>>`, from the bounded-k
  * fold [[graft.ml.TopK.bucketAnchors]]) joined back onto each bucket
  * member —
  * together they implement [[graft.ml.Dedup.minhashPairs]]' capped
  * lower-partner contract with bounded memory everywhere: the
  * aggregation buffer holds k items, each probe row carries one
  * bounded anchor array, and no bucket is ever materialized whole.
  * Equal ids (a duplicated input row) never match themselves, mirroring
  * the pair path's `id_a < id_b`. */
case class MinHashAnchorDropExpr(idExpr: Expression, sigExpr: Expression,
                                 anchorsExpr: Expression,
                                 numHashes: Int, threshold: Double)
    extends TernaryExpression with CodegenFallback {

  override def first: Expression = idExpr
  override def second: Expression = sigExpr
  override def third: Expression = anchorsExpr
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    def fail = TypeCheckResult.TypeCheckFailure(
      "minhash_anchor_drop expects (id: long, sig: array<long>, " +
        "anchors: array<struct<id: long, sig: array<long>>>), got (" +
        s"${idExpr.dataType.sql}, ${sigExpr.dataType.sql}, ${anchorsExpr.dataType.sql})")
    (idExpr.dataType, sigExpr.dataType, anchorsExpr.dataType) match {
      case (LongType, ArrayType(LongType, _), ArrayType(st: StructType, _))
          if st.length == 2 =>
        (st(0).dataType, st(1).dataType) match {
          case (LongType, ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
          case _ => fail
        }
      case _ => fail
    }
  }

  override def nullSafeEval(idv: Any, sigv: Any, anchorsv: Any): Any = {
    val id = idv.asInstanceOf[Long]
    val sig = sigv.asInstanceOf[ArrayData].toLongArray()
    val anchors = anchorsv.asInstanceOf[ArrayData]
    val m = anchors.numElements()
    var i = 0
    while (i < m) {
      val a = anchors.getStruct(i, 2)
      if (a.getLong(0) < id) {
        val asig = a.getArray(1)
        var matches = 0
        var h = 0
        while (h < numHashes) {
          if (asig.getLong(h) == sig(h)) matches += 1
          h += 1
        }
        if (matches.toDouble / numHashes >= threshold)
          return java.lang.Boolean.TRUE
      }
      i += 1
    }
    java.lang.Boolean.FALSE
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): Expression =
    copy(idExpr = f, sigExpr = s, anchorsExpr = t)
}

/** Cosine similarity between two numeric arrays, accumulated in double,
  * single pass (dot and both norms together), left-to-right — the same
  * accumulation order as the zip_with/aggregate formulation, so results
  * are bit-identical to the expression version and to a sequential
  * C/SQL loop. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with BinaryKernelCodegen {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    Kernels.requireNumericArray("cosine_sim", left.dataType) match {
      case org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess =>
        Kernels.requireNumericArray("cosine_sim", right.dataType)
      case fail => fail
    }

  @transient private lazy val getL = Kernels.doubleGetter(left.dataType, "cosine")
  @transient private lazy val getR = Kernels.doubleGetter(right.dataType, "cosine")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = getL(a, i); val y = getR(b, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Argmax cosine against a BROADCAST candidate set in one tight JVM
  * loop per row: `best_cosine(vec, array<struct<list_id, cvec>>)` →
  * `struct(list_id, sim)` of the highest-cosine candidate. Replaces
  * the `array_max(transform(cs, c => struct(cosine(...), id)))` HOF
  * pair wherever a row is scored against every candidate
  * (`Similarity.assignLists`, the k-means|| D² pass): `transform` is
  * INTERPRETED per element, so at auto-sized geometry the per-row
  * candidate scan paid interpreter dispatch per candidate per
  * dimension — the r11 ×64 vector stress measured the seeding pass
  * wedged for 10+ minutes at 128k rows × ~700 candidates where this
  * kernel's primitive loop takes seconds (same cliff class as the r7
  * z-order bucket HOF, 4× the whole write's cost).
  *
  * Semantics mirror the HOF formulation exactly (spec-pinned in
  * `BestCosineSpec` against the old expression): NaN sims sort
  * GREATEST (Spark's double ordering), an equal-sim tie picks the
  * larger list_id (struct max ordering), null candidate structs are
  * skipped, all-null-sim candidate sets yield (max list_id, null sim)
  * — the struct-ordering artifact array_max produced — and an empty
  * set yields null. Two deliberate divergences: (1) a NULL input
  * vector returns null (nullSafeEval) where the HOF returned the
  * struct-ordering artifact; every caller either pre-filters null
  * vectors or drops the null list_id in a later equi-join, and null
  * never silently claims an assignment. (2) IntegerType candidate ids
  * are accepted but the result's list_id is always LongType (the HOF
  * preserved the id type) — internal callers all carry Long ids; an
  * external caller with int ids gets a widened output schema, never a
  * changed value. */
case class BestCosineExpr(left: Expression, right: Expression)
    extends BinaryExpression with BinaryKernelCodegen {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  override def dataType: DataType = StructType(Seq(
    StructField("list_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult =
    Kernels.requireNumericArray("best_cosine", left.dataType) match {
      case TypeCheckResult.TypeCheckSuccess => right.dataType match {
        case ArrayType(StructType(Array(
            StructField(_, LongType | IntegerType, _, _),
            StructField(_, ArrayType(FloatType | DoubleType | LongType | IntegerType, _), _, _))), _) =>
          TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"best_cosine expects array<struct<id int|long, cvec array<numeric>>>, got ${other.sql}")
      }
      case fail => fail
    }

  @transient private lazy val getV = Kernels.doubleGetter(left.dataType, "best_cosine")
  @transient private lazy val candStruct =
    right.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  @transient private lazy val idIsLong = candStruct.fields(0).dataType == LongType
  @transient private lazy val getC =
    Kernels.doubleGetter(candStruct.fields(1).dataType, "best_cosine")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = l.asInstanceOf[ArrayData]
    val cs = r.asInstanceOf[ArrayData]
    val m = cs.numElements()
    if (m == 0) return null
    val n = v.numElements()
    val vd = new Array[Double](n)
    var nv = 0.0
    var i = 0
    while (i < n) { val x = getV(v, i); vd(i) = x; nv += x * x; i += 1 }
    val vnorm = math.sqrt(nv)
    var bestSet = false; var bestSim = 0.0; var bestId = Long.MinValue
    var anyCand = false; var maxId = Long.MinValue
    var j = 0
    while (j < m) {
      if (!cs.isNullAt(j)) {
        val st = cs.getStruct(j, 2)
        val id = if (idIsLong) st.getLong(0) else st.getInt(0).toLong
        anyCand = true
        if (id > maxId) maxId = id
        if (!st.isNullAt(1)) {
          val c = st.getArray(1)
          val k = math.min(n, c.numElements())
          var dot = 0.0; var nc = 0.0; var t = 0
          while (t < k) { val y = getC(c, t); dot += vd(t) * y; nc += y * y; t += 1 }
          val sim = dot / (vnorm * math.sqrt(nc))
          val cmp = java.lang.Double.compare(sim, bestSim)
          if (!bestSet || cmp > 0 || (cmp == 0 && id > bestId)) {
            bestSet = true; bestSim = sim; bestId = id
          }
        }
      }
      j += 1
    }
    if (bestSet)
      org.apache.spark.sql.catalyst.InternalRow(bestId, bestSim)
    else if (anyCand)
      org.apache.spark.sql.catalyst.InternalRow(maxId, null)
    else null
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 64-bit hashes of every word n-gram window (stride 1) of a token
  * array: token t hashed once with XXH64 over its UTF-8 bytes, then
  * window w combined as the degree-(n-1) polynomial
  * Σ A^(n-1-j)·th(w+j) in natural 2^64 wraparound arithmetic and
  * finalized with splitmix64. The polynomial form makes the update
  * ROLLING — one multiply-subtract-add per step — so the whole array
  * costs O(len) long ops with ZERO string building, where the HOF
  * formulation (slice → array_join → xxhash64 per window) is
  * interpreted and allocates an O(n)-char string per window. Output
  * length max(0, len−n+1); equal token windows hash equal by
  * construction, and the consumers (duplicate dictionaries,
  * decontamination joins) only need self-consistency — their oracles
  * mirror the JOIN SEMANTICS on gram strings, not these hash values. */
case class WordNgramHashExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 2, s"n-gram order must be >= 2 (got $n)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_ngram_hashes expects array<string>, got ${other.sql}")
    }

  private val A = 0x9E3779B97F4A7C15L // odd → invertible mod 2^64

  @transient private lazy val aPowN1: Long = { // A^(n-1) mod 2^64
    var p = 1L
    var i = 1
    while (i < n) { p *= A; i += 1 }
    p
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Long])
    val th = new Array[Long](len)
    var i = 0
    while (i < len) {
      // null elements hash to a fixed sentinel (wsTokens never emits
      // them, but the kernel must not NPE on a hand-built array)
      val t = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      th(i) = if (t == null) 0x5DEECE66DL
        else org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
      i += 1
    }
    val out = new Array[Long](len - n + 1)
    var h = 0L
    i = 0
    while (i < n) { h = h * A + th(i); i += 1 } // first window
    out(0) = Kernels.mix(h)
    var w = 1
    while (w <= len - n) {
      h = (h - aPowN1 * th(w - 1)) * A + th(w + n - 1) // roll
      out(w) = Kernels.mix(h)
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document repetition counters over an ALREADY-NORMALIZED string
  * (lowercase, single-space separated — see TextFunctions
  * .normalizeText): word total/distinct, bigram total/distinct, and
  * the top word's occurrence count — the raw integers behind
  * Gopher-style duplicate-text quality signals (ratios are taken in
  * plain SQL so the oracle can reproduce them bit-exactly).
  *
  * One hash-map pass per row, O(words); the HOF formulation
  * (`array_max(transform(array_distinct(w), u -> size(filter(w, ...`)
  * is O(words × distinct) AND interpreted — this kernel replaces it
  * the same way MinHashSigExpr replaces shingle HOFs. */
case class RepetitionStatsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("total_words", IntegerType, nullable = false),
    StructField("distinct_words", IntegerType, nullable = false),
    StructField("total_bigrams", IntegerType, nullable = false),
    StructField("distinct_bigrams", IntegerType, nullable = false),
    StructField("top_word", IntegerType, nullable = false)))

  override def checkInputDataTypes() =
    Kernels.requireString("repetition_stats", child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val wordCounts = new java.util.HashMap[String, Integer]()
    val bigrams = new java.util.HashSet[String]()
    var total = 0
    var totalBigrams = 0
    var top = 0
    var prev: String = null
    var start = 0
    val len = s.length
    var i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > start) {
          val w = s.substring(start, i)
          total += 1
          val c = wordCounts.merge(w, 1, (a, b) => a + b)
          if (c > top) top = c
          if (prev != null) {
            totalBigrams += 1
            bigrams.add(prev + " " + w)
          }
          prev = w
        }
        start = i + 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      total, wordCounts.size(), totalBigrams, bigrams.size(), top)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** BPE inference over a token array with a learned merge table: each
  * token decomposes to codepoint symbols + the end-of-word marker,
  * then the LOWEST-RANK adjacent pair present in the table merges (all
  * its occurrences, leftmost-first) until no listed pair remains — the
  * standard encode loop (Sennrich et al., ACL '16). The merge table is
  * part of the expression (it IS the model — broadcast-sized at
  * production vocabularies), so encoding is row-local and map-only.
  *
  * Output: the concatenated subword stream across tokens (each word's
  * last subword carries the end-of-word marker), `array<string>`. */
case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)],
                         endOfWord: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bpe_encode expects array<string> tokens, got ${other.sql}")
  }

  // pair → rank, FIRST occurrence winning: training can legitimately
  // re-emit a pair whose adjacency a later merge recreates (a fused
  // symbol can equal the left element of an earlier pair), and
  // reference encoders resolve such duplicates to the EARLIEST rank —
  // last-wins would reorder the greedy loop against training's replay.
  // The NUL separator cannot occur inside symbols (substrings of real
  // tokens — a NUL never survives text ingestion).
  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent(a + "\u0000" + b, i)
    }
    m
  }

  private def charSyms(word: String): Array[String] = {
    val buf = new scala.collection.mutable.ArrayBuffer[String](word.length + 1)
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      buf += word.substring(i, i + n)
      i += n
    }
    buf += endOfWord
    buf.toArray
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var t = 0
    while (t < arr.numElements()) {
      var syms = charSyms(arr.getUTF8String(t).toString)
      var more = true
      while (more) {
        var bestRank = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          val r = rank.get(syms(i) + "\u0000" + syms(i + 1))
          if (r != null && r < bestRank) bestRank = r
          i += 1
        }
        if (bestRank == Int.MaxValue) more = false
        else {
          val (a, b) = merges(bestRank)
          val fused = a + b
          val nb = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
              nb += fused; j += 2
            } else { nb += syms(j); j += 1 }
          }
          syms = nb.toArray
        }
      }
      syms.foreach(s => out += UTF8String.fromString(s))
      t += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sum of per-token Naive Bayes log-likelihood ratios (integer
  * micro-nats) under a DRIVER-COMPILED model that ships inside the
  * expression — the map-only scoring path for
  * [[graft.text.Classifier.nbScoreBroadcast]]. The model is a
  * term → llr_micro table (vocabulary-sized, broadcast-class data like
  * [[BpeEncodeExpr]]'s merge ranks); tokens absent from it add
  * `unseenLlrMicro` (unseen-in-both-classes tokens still carry the
  * token-mass asymmetry — see the Classifier scaladoc). One hash probe
  * per token on zero-copy UTF8String keys, no per-row allocation, and
  * the long sum is identical to the join path's SUM over identical
  * per-token longs — order-independent by construction. */
case class NbScoreSumExpr(child: Expression, llrMicro: Map[String, Long],
                          unseenLlrMicro: Long)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nb_score_sum expects array<string> tokens, got ${other.sql}")
  }

  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](llrMicro.size * 2)
    llrMicro.foreach { case (t, v) =>
      m.put(UTF8String.fromString(t), java.lang.Long.valueOf(v))
    }
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var sum = 0L
    var i = 0
    while (i < arr.numElements()) {
      // null elements score as unseen (wsTokens never emits them, but
      // the expression contract shouldn't NPE on a hand-built array)
      val t = arr.getUTF8String(i)
      val v = if (t == null) null else table.get(t)
      sum += (if (v != null) v.longValue() else unseenLlrMicro)
      i += 1
    }
    sum
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Raw-deflate compression ratio of the UTF-8 text: compressed bytes /
  * raw bytes at level 6, no zlib framing (nowrap — a 6-byte header
  * would dominate short strings). The Gopher/RefinedWeb
  * compressibility signal: boilerplate and template spam compress far
  * below prose. Row-local and map-only; the Deflater is THREAD-LOCAL
  * and reset per row — a per-row Deflater would pay JNI setup and
  * native allocation per document, a per-partition one would race
  * under whole-stage codegen's row batching. Deterministic for a
  * given JVM's zlib (goldens in the spec compute expected values
  * through java.util.zip in-process, so they can never drift from
  * the runtime). */
case class DeflateRatioExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() =
    Kernels.requireString("deflate_ratio", child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    if (bytes.length == 0) return java.lang.Double.valueOf(1.0)
    val d = DeflateRatioExpr.local.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    var total = 0L
    val buf = DeflateRatioExpr.buf.get()
    while (!d.finished()) total += d.deflate(buf)
    java.lang.Double.valueOf(total.toDouble / bytes.length)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeflateRatioExpr {
  private val local: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() => new java.util.zip.Deflater(6, true))
  private val buf: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](64 * 1024))
}

/** Rolling 64-bit polynomial hashes of every CHARACTER n-gram of a
  * string — the position index for exact-substring dedup (Lee et al.
  * 2022's ExactSubstr, re-expressed as a hash-join problem instead of
  * a monolithic suffix array): output(i) hashes chars [i, i+n), one
  * tight O(len) loop per row. Equal windows always hash equal;
  * distinct windows collide with probability ~2^-64 per pair (the
  * splitmix finalizer decorrelates the weak polynomial tail), so a
  * corpus-level dedup over ~10^9 grams carries ~10^-1 expected…
  * rather: pairwise 2^-64 → even 10^10 grams keep the expected
  * collision count far below one. Offsets are UTF-16 code units —
  * identical to codepoint offsets for BMP text (the documents corpus
  * is ASCII); supplementary-plane text would need byte-offset
  * semantics instead. */
case class CharNgramHashExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 2, s"n-gram length must be >= 2 (got $n)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    Kernels.requireString("char_ngram_hashes", child.dataType)

  private val A = Kernels.RollA

  @transient private lazy val aPowN1: Long = { // A^(n-1) mod 2^64
    var p = 1L
    var i = 1
    while (i < n) { p *= A; i += 1 }
    p
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val len = s.length
    if (len < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](len - n + 1)
    var h = 0L
    var i = 0
    while (i < n) { h = h * A + s.charAt(i); i += 1 }
    out(0) = Kernels.mix(h)
    var w = 1
    while (w <= len - n) {
      h = (h - aPowN1 * s.charAt(w - 1)) * A + s.charAt(w + n - 1)
      out(w) = Kernels.mix(h)
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cut fixed-width duplicated spans out of a string: `starts` holds
  * the 0-based offsets whose n-char windows were found duplicated;
  * overlapping and ADJACENT windows merge into maximal spans (the
  * same islands a lag-based SQL formulation produces), which are then
  * removed. Returns struct(clean_text, dup_spans, removed_chars) —
  * (text, 0, 0) when starts is null/empty, null for null text. One
  * O(k log k + len) pass per row; starts is defensively re-sorted so
  * the kernel does not depend on upstream sort_array staying in the
  * plan. */
case class CutSpansExpr(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with CodegenFallback {
  require(n >= 1, s"span width must be >= 1 (got $n)")

  override def dataType: DataType = StructType(Seq(
    StructField("clean_text", StringType, nullable = true),
    StructField("dup_spans", IntegerType, nullable = false),
    StructField("removed_chars", IntegerType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(IntegerType | LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cut_spans expects (string, array<int|long>), got (${l.sql}, ${r.sql})")
    }

  // null starts means "no duplicated spans", so only null TEXT nulls
  // the row — eval overrides the default both-null-safe behavior.
  // Hand-built SQL input is hostile by assumption (cut_spans is a
  // registered function): null ELEMENTS and out-of-range offsets
  // (negative, past the text, long overflow) identify no window and
  // are IGNORED — they must neither crash the task nor cut text.
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) return null
    val s = t.asInstanceOf[UTF8String].toString
    val len = s.length
    val st = right.eval(input)
    val starts: Array[Int] =
      if (st == null) Array.empty
      else {
        val arr = st.asInstanceOf[ArrayData]
        val k = arr.numElements()
        val a = new Array[Int](k)
        var kept = 0
        var i = 0
        val isLong = right.dataType.asInstanceOf[ArrayType].elementType == LongType
        while (i < k) {
          if (!arr.isNullAt(i)) {
            val v: Long = if (isLong) arr.getLong(i) else arr.getInt(i).toLong
            if (v >= 0L && v < len) { a(kept) = v.toInt; kept += 1 }
          }
          i += 1
        }
        val trimmed = java.util.Arrays.copyOf(a, kept)
        java.util.Arrays.sort(trimmed)
        trimmed
      }
    if (starts.isEmpty)
      return org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(s), 0, 0)
    val sb = new java.lang.StringBuilder(len)
    var spans = 0
    var removed = 0
    var kept = 0 // next char not yet emitted
    var curS = starts(0)
    var curE = math.min(curS + n, len)
    var i = 1
    while (i <= starts.length) {
      val p = if (i < starts.length) starts(i) else Int.MaxValue
      if (p > curE) { // flush the current maximal span
        sb.append(s, kept, curS)
        kept = curE
        spans += 1
        removed += curE - curS
        if (i < starts.length) { curS = p; curE = math.min(p + n, len) }
      } else curE = math.min(math.max(curE, p + n), len)
      i += 1
    }
    sb.append(s, kept, len)
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(sb.toString), spans, removed)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The COMPILED form of the cross-corpus span cut: the reference
  * corpus's distinct gram hashes ship inside the expression (sorted
  * array, binary-searched), so covered-window detection, island
  * merge, and cut all happen in ONE row-local pass — no explode, no
  * shuffle, nothing stateful. This is what makes surgical
  * decontamination a map-only projection for benchmark-sized
  * references, and therefore directly composable onto a stream
  * (same pattern as the compiled NB scorer, NbScoreSumExpr). The
  * rolling hash and finalizer are byte-identical to
  * [[CharNgramHashExpr]]'s ([[Kernels.RollA]] + [[Kernels.mix]]), so
  * this path and the join path cut the same spans — spec-pinned.
  * Island merging is ONLINE (positions arrive in ascending order):
  * O(len) time, O(1) state beyond the output builder. */
case class CutSharedSpansExpr(child: Expression, refHashes: Array[Long], n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 2, s"span width must be >= 2 (got $n)")

  override def dataType: DataType = StructType(Seq(
    StructField("clean_text", StringType, nullable = true),
    StructField("dup_spans", IntegerType, nullable = false),
    StructField("removed_chars", IntegerType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    Kernels.requireString("cut_shared_spans", child.dataType)

  @transient private lazy val aPowN1: Long = {
    var p = 1L
    var i = 1
    while (i < n) { p *= Kernels.RollA; i += 1 }
    p
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val len = s.length
    if (len < n || refHashes.length == 0)
      return org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(s), 0, 0)
    val A = Kernels.RollA
    val sb = new java.lang.StringBuilder(len)
    var spans = 0
    var removed = 0
    var kept = 0
    var curS = -1
    var curE = -1
    def flush(): Unit = if (curS >= 0) {
      sb.append(s, kept, curS)
      kept = curE
      spans += 1
      removed += curE - curS
      curS = -1
    }
    var h = 0L
    var i = 0
    while (i < n) { h = h * A + s.charAt(i); i += 1 }
    var w = 0
    while (w <= len - n) {
      if (w > 0) h = (h - aPowN1 * s.charAt(w - 1)) * A + s.charAt(w + n - 1)
      if (java.util.Arrays.binarySearch(refHashes, Kernels.mix(h)) >= 0) {
        if (curS < 0) { curS = w; curE = math.min(w + n, len) }
        else if (w > curE) { flush(); curS = w; curE = math.min(w + n, len) }
        else curE = math.min(w + n, len)
      }
      w += 1
    }
    flush()
    sb.append(s, kept, len)
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(sb.toString), spans, removed)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Order-preserving LONG encoding of a DOUBLE (IEEE-754 total-order
  * trick for SIGNED comparison: positives keep their bits, negatives
  * flip their low 63 bits so sign-magnitude becomes two's-complement)
  * — lets double-valued priorities ride the repo's bounded
  * long-keyed bounded-k fold (TopK.smallestPerGroup) instead of a full-sort
  * Window. Signed-long comparison of the outputs equals double
  * comparison of the inputs; NaN (canonical bits) sorts ABOVE every
  * number, −0.0 immediately below +0.0 — both documented, neither
  * occurs in ordinary metric columns. (The better-known
  * `bits ^ (MIN | (bits>>63))` variant is UNSIGNED-comparable and
  * inverts the positive/negative bands under signed compare — the
  * property suite caught exactly that on negative values.) */
/** Identity pass-through marked non-deterministic — the optimizer
  * barrier behind [[Kernels.once]]. Codegen and eval delegate straight
  * to the child (zero per-row cost); `deterministic = false` is the
  * entire mechanism. */
case class BarrierExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bucket index for z-order layout: #{i : cuts(i) ≤ value} — the
  * upper-bound rank of `value` in the sorted `cuts` array, one binary
  * search per row. Replaces the nested `when`-tree formulation
  * (ZOrder.bucketOf built a 2^bits-branch CASE expression whose
  * evaluation measured ~1 µs/row/column at 255 cuts — r14 measured
  * the z-projection at 1.36 s over 600k rows where this kernel does
  * it in a binary search). Comparison semantics match Spark SQL's
  * `>=` on doubles: NaN sorts above every number (java.lang.Double
  * .compare agrees), and −0.0 is canonicalized to +0.0 on both sides
  * (SQL treats them equal; Double.compare does not). Null input is
  * handled by the caller (ZOrder coalesces to bucket 0, the when-tree
  * contract). */
case class BucketIdxExpr(child: Expression, cuts: Array[Double])
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bucket_idx expects double, got ${other.sql}")
    }

  // cuts canonicalized once: −0.0 → +0.0 so the binary search's
  // Double.compare ordering agrees with SQL `>=` at the zero boundary
  private lazy val canon: Array[Double] =
    cuts.map(c => if (c == 0.0) 0.0 else c)

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[Double]
    val v = if (raw == 0.0) 0.0 else raw
    val a = canon
    // upper bound: first index with a(i) > v (NaN compares above all)
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.lang.Double.compare(a(mid), v) <= 0) lo = mid + 1
      else hi = mid
    }
    lo.toLong
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SortableDoubleBitsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sortable_double_bits expects double, got ${other.sql}")
    }

  override def nullSafeEval(input: Any): Any = {
    val bits = java.lang.Double.doubleToLongBits(input.asInstanceOf[Double])
    // (bits >> 63) >>> 1 = 0x7FFF… for negatives, 0 for positives
    bits ^ ((bits >> 63) >>> 1)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
