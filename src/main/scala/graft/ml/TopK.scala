package graft.ml

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._

/** The bounded-k buffer: at most k items, first-ranked first.
  * Top-level case class: nested case classes break Janino codegen for
  * Encoders. */
case class BoundedKBuf[I](items: Seq[I])

/** The bounded-k fold: "the best k items per group" as a partial
  * aggregate — the one construct behind every per-group top-k in the
  * repo (ANN and BM25 top-k, tf-idf keywords, MinHash bucket anchors,
  * exact stratified and mixture sampling):
  *
  *   - map side: each task folds its slice into a ≤k buffer per group
  *     (ObjectHashAggregate keeps the buffer as a JVM object, no
  *     per-row serialization),
  *   - shuffle: only `groups × tasks × k` buffered items move,
  *   - reduce side: buffers merge per group.
  *
  * Contrast with a `row_number().over(partitionBy(group))` window,
  * which exchanges the ENTIRE input and sorts each group whole in a
  * single task. The buffer never exceeds k on either side of the
  * shuffle, so one degenerate group costs k items, never |group|.
  *
  * A variant is its item type and its order `ahead(a, b)` — "`a` stays
  * ahead of `b`". A new item goes after every buffered item that stays
  * ahead of it; a full buffer whose last item stays ahead skips the
  * new one with one comparison and no allocation (the per-row common
  * case). */
abstract class BoundedK[I <: Product : TypeTag](k: Int)
    extends Aggregator[I, BoundedKBuf[I], BoundedKBuf[I]] {

  protected def ahead(a: I, b: I): Boolean

  private val inputEncoder = Encoders.product[I]
  private val bufEncoder = Encoders.product[BoundedKBuf[I]]

  private def insert(items: Seq[I], x: I): Seq[I] =
    if (items.size >= k && ahead(items.last, x)) items // common case: no alloc
    else {
      val (pre, post) = items.span(ahead(_, x))
      val merged = (pre :+ x) ++ post
      if (merged.size > k) merged.take(k) else merged
    }

  override def zero: BoundedKBuf[I] = BoundedKBuf(Vector.empty)
  override def reduce(b: BoundedKBuf[I], a: I): BoundedKBuf[I] = {
    val items = insert(b.items, a)
    if (items eq b.items) b else BoundedKBuf(items)
  }
  override def merge(b1: BoundedKBuf[I], b2: BoundedKBuf[I]): BoundedKBuf[I] =
    BoundedKBuf(b2.items.foldLeft(b1.items)(insert))
  override def finish(b: BoundedKBuf[I]): BoundedKBuf[I] = b
  override def bufferEncoder = bufEncoder
  override def outputEncoder = bufEncoder

  /** The fold as an aggregate column over one argument per item field;
    * its `items` field is the group's ≤k best, first-ranked first. */
  private[graft] def fold(args: Column*): Column = F.udaf(this, inputEncoder)(args: _*)

  /** Stable in plan text (the default embeds the identity hash). */
  override def toString: String = s"${getClass.getName}(k=$k)"
}

/** One (similarity, id) candidate. */
case class TopKItem(sim: Double, id: Long)

/** Best k by (sim desc, id asc) — a total order, so the result is
  * deterministic under any partitioning; ties at the k boundary
  * resolve to the lower id, matching `ORDER BY cos_sim DESC, nn_id
  * ASC` oracles. */
class TopKAgg(k: Int) extends BoundedK[TopKItem](k) {
  protected def ahead(a: TopKItem, b: TopKItem): Boolean =
    a.sim > b.sim || (a.sim == b.sim && a.id < b.id)
}

/** One (id, signature) bucket member. */
case class MinKSigItem(id: Long, sig: Seq[Long])

/** The k smallest ids per group, with payload — the memory-safe
  * replacement for `collect_list(struct(id, sig))` when only the
  * group's smallest k members matter (MinHash dedup's capped
  * lower-partner contract): a degenerate bucket (10^6 copies of a
  * boilerplate page) costs k × sigBytes, not |bucket| × sigBytes. The
  * order is NON-strict (`id <=`): a repeated id lands after its
  * earlier copies, so which payload survives is the fold's. */
class MinKSigAgg(k: Int) extends BoundedK[MinKSigItem](k) {
  protected def ahead(a: MinKSigItem, b: MinKSigItem): Boolean = a.id <= b.id
}

/** One (priority, id) candidate for smallest-k-by-priority selection. */
case class MinKKeyItem(pri: Long, id: Long)

/** The k smallest (pri asc, id asc) pairs per group — total order, so
  * the selected set equals the `row_number` window formulation's
  * under any partitioning. Behind [[TopK.smallestPerGroup]]. */
class MinKByKeyAgg(k: Int) extends BoundedK[MinKKeyItem](k) {
  protected def ahead(a: MinKKeyItem, b: MinKKeyItem): Boolean =
    a.pri < b.pri || (a.pri == b.pri && a.id < b.id)
}

/** One (score, term) candidate with a STRING payload — for rankings
  * whose members are terms, not row ids (tf-idf keywords). */
case class TopKStrItem(score: Double, term: String)

/** [[TopKAgg]] with a string payload: total order (score desc, term
  * asc) so ties match `ORDER BY score DESC, term` oracles. Tie
  * comparison is over UTF-8 BYTES (code-point order — what Spark SQL
  * and DuckDB ORDER BY use), NOT Java's UTF-16 code-unit order, which
  * disagrees for supplementary-plane strings vs [U+E000, U+FFFF]. */
class TopKStrAgg(k: Int) extends BoundedK[TopKStrItem](k) {

  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  protected def ahead(a: TopKStrItem, b: TopKStrItem): Boolean =
    a.score > b.score || (a.score == b.score && utf8Less(a.term, b.term))
}

object TopK {

  /** Largest k the per-group folds buffer: each task holds up to k
    * items per group — the right trade at sample sizes, the wrong one
    * as k approaches group size (the buffers would dwarf the sort they
    * avoid). */
  private[graft] val MaxBufferedK = 65536

  /** The GENERAL bounded top-k: the best `k` ROWS of `df` per group
    * by `valueCol` (desc by default; ties break to the LOWER id),
    * WITHOUT a window — [[smallestPerGroup]]'s bounded fold. A
    * `row_number` window formulation exchanges and SORTS the entire
    * input per group — this shape never sorts a group at all, which
    * is the difference between "top 100 docs per language by quality
    * score" costing a bounded aggregate and costing a corpus sort at
    * 100 TB.
    *
    * `groupCols` may be empty (global top-k). Double values order by
    * IEEE total order via an order-preserving long encoding
    * ([[graft.functions.Kernels.sortableDoubleBits]] — NaN sorts as
    * the LARGEST value); integral values compare exactly. Ids must be
    * integral and unique within a group (the repo-wide id contract);
    * null values/ids are excluded. k ≤ [[MaxBufferedK]]. */
  def rowsPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
                   valueCol: String, k: Int,
                   descending: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types._
    require(k >= 1 && k <= MaxBufferedK, s"k must be in [1, $MaxBufferedK], got $k")
    // ids travel through the aggregate as longs and join back by
    // equality — a fractional id would silently collapse/drop rows
    require(integral(df.schema(idCol).dataType),
      s"rowsPerGroup needs an integral id column, got " +
        s"${df.schema(idCol).dataType.sql} for $idCol")
    val nn = df.filter(col(valueCol).isNotNull && col(idCol).isNotNull)
    val priAsc: Column = df.schema(valueCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => col(valueCol).cast("long")
      case FloatType | DoubleType =>
        graft.functions.Kernels.sortableDoubleBits(col(valueCol).cast("double"))
      case other => throw new IllegalArgumentException(
        s"rowsPerGroup orders by numeric values, got ${other.sql} for $valueCol")
    }
    smallestPerGroup(nn, groupCols, idCol,
      if (descending) F.bitwise_not(priAsc) else priAsc, k)
  }

  private def integral(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
  }

  /** The rows of `df` whose (`pri`, id) pair is among the `k` smallest
    * of their group (pri asc, id asc — a total order, so the kept set
    * is the same on either path and under any partitioning). `caps`,
    * when given, is a (groupCols…, `__cap`) frame of per-group limits
    * ≤ k: only its groups are kept, each to its first `__cap` rows.
    * Ids must be unique within a group and non-null.
    *
    * Integral ids with k ≤ [[MaxBufferedK]] take the bounded fold
    * ([[MinKByKeyAgg]]): only groups × tasks × k (pri, id) pairs reach
    * the shuffle, and the picked ids — carried WITH their group keys,
    * so an id repeated across groups can never leak a foreign group's
    * row — semi-join the rows back (AQE-broadcastable). Otherwise a
    * per-group `row_number` window exchanges and sorts the full input.
    * Either path returns `df`'s columns in `df`'s order. */
  private[graft] def smallestPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
                                      pri: Column, k: Long,
                                      caps: Option[DataFrame] = None): DataFrame = {
    val in = caps.fold(df)(c => df.join(broadcast(c), groupCols))
    val capCols = caps.map(_ => col("__cap")).toSeq
    if (k > MaxBufferedK || !integral(df.schema(idCol).dataType)) {
      val rn = "__tk_rank"
      val w = Window.partitionBy(groupCols.map(col): _*).orderBy(pri, col(idCol))
      in.withColumn(rn, row_number().over(w))
        .filter(col(rn) <= capCols.headOption.getOrElse(lit(k)))
        .select(df.columns.map(graft.core.qcol): _*)
    } else {
      val folded = in.groupBy(groupCols.map(col) ++ capCols: _*)
        .agg(new MinKByKeyAgg(k.toInt).fold(pri, col(idCol).cast("long")).as("__mk"))
      val keys = groupCols.map(c => col(c).as(s"__tk_$c"))
      val items = col("__mk").getField("items")
      val exploded =
        if (caps.isEmpty) folded.select(keys :+ explode(items).as("__it"): _*)
        else folded.select(keys ++ capCols :+ posexplode(items).as(Seq("__pos", "__it")): _*)
          .filter(col("__pos") < col("__cap"))
      val picked = exploded.select(groupCols.map(c => col(s"__tk_$c")) :+
        col("__it").getField("id").cast(df.schema(idCol).dataType).as("__tk_id"): _*)
      // NULL-SAFE group equality: groupBy keeps a null key as a group,
      // and a plain equi-join would never match it back (NULL = NULL
      // is not TRUE). The caps join has already dropped null keys, so
      // there plain equality holds and lets Spark infer not-null
      // filters on the keys.
      val eq: (Column, Column) => Column = if (caps.isEmpty) _ <=> _ else _ === _
      val cond = (groupCols.map(c => eq(col(c), col(s"__tk_$c"))) :+
        (col(idCol) === col("__tk_id"))).reduce(_ && _)
      df.join(picked, cond, "left_semi")
    }
  }

  /** Best k rows per query from a `(query_id, nn_id, cos_sim)` candidate
    * frame, ranked 1..k by (cos_sim desc, nn_id asc) — [[TopKAgg]].
    * One partial+final aggregation, no window. */
  def perQuery(scored: DataFrame, k: Int): DataFrame =
    ranked(scored, "query_id", new TopKAgg(k).fold(col("cos_sim"), col("nn_id")))
      .select(col("query_id"),
        col("__it").getField("id").as("nn_id"),
        col("__it").getField("sim").as("cos_sim"),
        (col("__pos") + 1).as("rank"))

  /** [[perQuery]] with a string payload: best k terms per document
    * of a `(doc_id, term)` frame by the double `score`, ranked 1..k by
    * (score desc, term asc in UTF-8 byte order) — [[TopKStrAgg]].
    * Returns (doc_id, term, score, rank). */
  private[graft] def termsPerDoc(scored: DataFrame, score: Column, k: Int): DataFrame =
    ranked(scored, "doc_id", new TopKStrAgg(k).fold(score, col("term")))
      .select(col("doc_id"),
        col("__it").getField("term").as("term"),
        col("__it").getField("score").as("score"),
        (col("__pos") + 1).as("rank"))

  private def ranked(scored: DataFrame, key: String, fold: Column): DataFrame =
    scored.groupBy(col(key))
      .agg(fold.as("__topk"))
      .select(col(key),
        posexplode(col("__topk").getField("items")).as(Seq("__pos", "__it")))

  /** Each band bucket's `k` smallest-id members from a (`__bkey`,
    * `__id`, `__sig`) frame — [[MinKSigAgg]]: one row per bucket,
    * (`__bkey`, `__anchors`) with the anchors ascending by id. */
  private[graft] def bucketAnchors(banded: DataFrame, k: Int): DataFrame =
    banded.groupBy(col("__bkey"))
      .agg(new MinKSigAgg(k).fold(col("__id"), col("__sig")).as("__mk"))
      .select(col("__bkey"), col("__mk").getField("items").as("__anchors"))
}
