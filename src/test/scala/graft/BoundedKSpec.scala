package graft

import graft.ml._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The bounded-k fold ([[graft.ml.BoundedK]]) pinned directly, without
  * a session: each aggregator folds random items split into random
  * partitions (`reduce`), and the partition buffers merge in a random
  * tree (`merge`). The result must equal a sort-and-take reference
  * under that variant's order, taken over the items in the merge
  * tree's leaf order (a stable sort: for the non-strict signature
  * order, equal ids keep their arrival order). NaN similarities have
  * no sort order; there the reference is a plain per-item insertion
  * (span, insert, take k) under TopKAgg's compare, driven through the
  * same reduce/merge schedule. */
class BoundedKSpec extends AnyFunSuite {

  private val ks = Seq(1, 2, 3, 5, 10, 50)

  /** Fold `items` through `agg`: random partitions reduced from zero,
    * then merged pairwise in a random tree. Returns the merged items
    * and the items in the tree's leaf order. */
  private def fold[I <: Product](agg: BoundedK[I], items: Seq[I], rnd: Random): (Seq[I], Seq[I]) = {
    val parts = Array.fill(1 + rnd.nextInt(6))(Vector.newBuilder[I])
    items.foreach(x => parts(rnd.nextInt(parts.length)) += x)
    var bufs = parts.toVector.map { p =>
      val xs = p.result()
      (xs.foldLeft(agg.zero)(agg.reduce), xs)
    }
    while (bufs.size > 1) {
      val i = rnd.nextInt(bufs.size)
      val j = (i + 1 + rnd.nextInt(bufs.size - 1)) % bufs.size
      val ((b1, l1), (b2, l2)) = (bufs(i), bufs(j))
      bufs = bufs.zipWithIndex.collect { case (b, n) if n != i && n != j => b } :+
        ((agg.merge(b1, b2), l1 ++ l2))
    }
    (agg.finish(bufs.head._1).items, bufs.head._2)
  }

  /** Runs `trials` random folds of every k against the sort-and-take
    * reference for `lt` (a strict "sorts before"). */
  private def check[I <: Product](name: String, mk: Int => BoundedK[I], gen: Random => I,
                       lt: (I, I) => Boolean, trials: Int = 200): Unit =
    for (k <- ks; t <- 0 until trials) {
      val rnd = new Random(k * 100003L + t)
      val items = Seq.fill(rnd.nextInt(80))(gen(rnd))
      val (got, leaves) = fold(mk(k), items, rnd)
      val want = leaves.sortWith(lt).take(k) // sortWith is stable
      assert(got == want, s"$name k=$k trial=$t\n got: $got\nwant: $want")
    }

  test("TopKAgg: best k by (sim desc, id asc); ties go to the lower id") {
    check[TopKItem]("TopKAgg", new TopKAgg(_),
      r => TopKItem(r.nextInt(8) * 0.25 - 1.0, r.nextInt(40).toLong),
      (a, b) => a.sim > b.sim || (a.sim == b.sim && a.id < b.id))
    // an exact tie at the k boundary keeps the lower id
    val agg = new TopKAgg(2)
    val b = Seq(TopKItem(0.5, 9), TopKItem(0.9, 4), TopKItem(0.5, 3))
      .foldLeft(agg.zero)(agg.reduce)
    assert(b.items == Seq(TopKItem(0.9, 4), TopKItem(0.5, 3)))
  }

  test("MinKByKeyAgg: k smallest by (pri asc, id asc)") {
    check[MinKKeyItem]("MinKByKeyAgg", new MinKByKeyAgg(_),
      r => MinKKeyItem(r.nextInt(6) - 3L, r.nextInt(1000) - 500L),
      (a, b) => a.pri < b.pri || (a.pri == b.pri && a.id < b.id))
  }

  test("MinKSigAgg: k smallest ids; a repeated id keeps its arrival order") {
    // ids drawn from a small range, so most ids repeat with distinct
    // payloads: which copy survives the k boundary is pinned
    check[MinKSigItem]("MinKSigAgg", new MinKSigAgg(_),
      r => MinKSigItem(r.nextInt(12).toLong, Seq(r.nextLong(), r.nextLong())),
      (a, b) => a.id < b.id)
    val agg = new MinKSigAgg(2)
    val one = Seq(MinKSigItem(5, Seq(1L)), MinKSigItem(7, Seq(2L)), MinKSigItem(5, Seq(3L)))
      .foldLeft(agg.zero)(agg.reduce)
    assert(one.items == Seq(MinKSigItem(5, Seq(1L)), MinKSigItem(5, Seq(3L))))
    // merge: the second buffer's copy of an id goes after the first's
    val two = agg.reduce(agg.zero, MinKSigItem(5, Seq(4L)))
    assert(agg.merge(two, one).items ==
      Seq(MinKSigItem(5, Seq(4L)), MinKSigItem(5, Seq(1L))))
  }

  test("TopKStrAgg: ties order terms by code point, not UTF-16 unit") {
    // U+E000 (one UTF-16 unit above the surrogates) vs U+1F600 (a
    // surrogate pair): code-point order puts U+E000 first, Java's
    // String.compareTo the emoji
    val terms = Seq("a", "b", "a\uE000", "a\uD83D\uDE00", "\uFFFF",
      "\uD800\uDC00", "ab", "a\uD83D\uDE00b", "\uE000", "")
    def cpLess(x: String, y: String): Boolean = {
      val (p, q) = (x.codePoints.toArray, y.codePoints.toArray)
      val i = p.zip(q).indexWhere { case (u, v) => u != v }
      if (i >= 0) p(i) < q(i) else p.length < q.length
    }
    assert(cpLess("a\uE000", "a\uD83D\uDE00") && "a\uD83D\uDE00" < "a\uE000")
    check[TopKStrItem]("TopKStrAgg", new TopKStrAgg(_),
      r => TopKStrItem(r.nextInt(3).toDouble, terms(r.nextInt(terms.size))),
      (a, b) => a.score > b.score || (a.score == b.score && cpLess(a.term, b.term)))
  }

  test("TopKAgg: NaN similarities land where a plain insertion puts them") {
    // the double compare is IEEE `>`/`==`: NaN is never ahead and
    // nothing is ahead of NaN, so placement depends on arrival; the
    // reference replays a plain insertion over the same schedule
    def ref(k: Int)(items: Seq[TopKItem], x: TopKItem): Seq[TopKItem] = {
      def better(a: TopKItem, b: TopKItem): Boolean =
        a.sim > b.sim || (a.sim == b.sim && a.id < b.id)
      if (items.size >= k && better(items.last, x)) items
      else {
        val (pre, post) = items.span(i => better(i, x))
        val merged = (pre :+ x) ++ post
        if (merged.size > k) merged.take(k) else merged
      }
    }
    for (k <- ks; t <- 0 until 200) {
      val rnd = new Random(7919L * k + t)
      val items = Seq.fill(rnd.nextInt(60)) {
        TopKItem(if (rnd.nextInt(4) == 0) Double.NaN else rnd.nextInt(5) * 0.5,
          rnd.nextInt(30).toLong)
      }
      val parts = items.groupBy(_ => rnd.nextInt(4)).toSeq.sortBy(_._1).map(_._2)
      val agg = new TopKAgg(k)
      val got = parts.map(p => p.foldLeft(agg.zero)(agg.reduce))
        .reduceOption(agg.merge).getOrElse(agg.zero).items
      val want = parts.map(_.foldLeft(Seq.empty[TopKItem])(ref(k)))
        .reduceOption((b1, b2) => b2.foldLeft(b1)(ref(k))).getOrElse(Nil)
      // TopKItem's case-class equality is Double `==`: NaN != NaN, so
      // compare ids and the raw bits of each similarity
      def key(xs: Seq[TopKItem]) = xs.map(i => (java.lang.Double.doubleToRawLongBits(i.sim), i.id))
      assert(key(got) == key(want), s"k=$k trial=$t\n got: $got\nwant: $want")
    }
  }

  test("a full buffer skips a trailing item without a new buffer") {
    val agg = new MinKByKeyAgg(3)
    val full = Seq(MinKKeyItem(1, 1), MinKKeyItem(2, 2), MinKKeyItem(3, 3))
      .foldLeft(agg.zero)(agg.reduce)
    assert(agg.reduce(full, MinKKeyItem(4, 4)) eq full)
    assert(agg.reduce(full, MinKKeyItem(0, 0)).items.map(_.id) == Seq(0L, 1L, 2L))
  }

  test("buffers round-trip through the aggregator's encoder") {
    import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
    val agg = new MinKSigAgg(4)
    val b = Seq(MinKSigItem(3, Seq(7L, 8L)), MinKSigItem(1, Seq(9L)))
      .foldLeft(agg.zero)(agg.reduce)
    val enc = ExpressionEncoder(
      agg.bufferEncoder.asInstanceOf[AgnosticEncoder[BoundedKBuf[MinKSigItem]]])
      .resolveAndBind()
    val back = enc.createDeserializer()(enc.createSerializer()(b))
    assert(back.items == b.items)
    assert(enc.schema.simpleString ==
      "struct<items:array<struct<id:bigint,sig:array<bigint>>>>")
  }
}
