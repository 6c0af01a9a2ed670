package perfbench

import scala.collection.mutable

/** The benchmark's own certificates: independent re-computations that an
  * op's output must match. The client evaluates them after an op's clock
  * has stopped, with tracing off, so their time and jobs are not counted
  * against the op. */
object Checks {

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Connected components of an undirected edge list, each node labelled
    * with the smallest id of its component. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Cosine in the library kernel's accumulation order. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Semantic-dedup keep rule: a vector is dropped when a lower id in the
    * same cluster has rounded cosine at or above `threshold`. */
  def semanticKeep(assigned: Seq[(Long, Long, Array[Float])], threshold: Double): Set[Long] =
    assigned.groupBy(_._1).values.flatMap { members =>
      val sorted = members.sortBy(_._2).toIndexedSeq
      sorted.indices.filterNot { j =>
        (0 until j).exists(i => round6(cosine(sorted(i)._3, sorted(j)._3)) >= threshold)
      }.map(j => sorted(j)._2)
    }.toSet

  /** Exact top-k ids by cosine (ties to the smaller id) for each query. */
  def bruteTopK(corpus: IndexedSeq[(Long, Array[Float])], queries: Seq[(Long, Array[Float])],
                k: Int): Map[Long, Set[Long]] =
    queries.map { case (q, qv) =>
      val best = mutable.ArrayBuffer.empty[(Double, Long)]
      corpus.foreach { case (id, v) =>
        val s = cosine(qv, v)
        if (best.size < k || s > best.last._1 || (s == best.last._1 && id < best.last._2)) {
          val at = best.indexWhere { case (bs, bid) => s > bs || (s == bs && id < bid) }
          best.insert(if (at < 0) best.size else at, (s, id))
          if (best.size > k) best.remove(k)
        }
      }
      q -> best.map(_._2).toSet
    }.toMap

  def recall(got: Map[Long, Seq[Long]], truth: Map[Long, Set[Long]], k: Int): Double = {
    val hits = truth.map { case (q, t) => got.getOrElse(q, Nil).count(t.contains) }.sum
    hits.toDouble / (truth.size * k)
  }

  /** BM25 score, in micro-units, of every doc for every query — the
    * formula the library documents (k1 = 1.2, b = 0.75, lowercase
    * whitespace tokens), summed per query term in fixed-point. */
  def bm25Micro(docs: Seq[(Long, String)], queries: Seq[(Long, String)]): Map[Long, Map[Long, Long]] = {
    val toks = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).toSeq
    }
    val nDocs = toks.size.toDouble
    val avgdl = toks.map(_._2.size.toLong).sum.toDouble / nDocs
    val qTerms = queries.map { case (q, t) => q -> t.split(" ").filter(_.nonEmpty).distinct.toSeq }
    val wanted = qTerms.flatMap(_._2).toSet
    val tf = toks.map { case (id, ts) =>
      (id, ts.size, ts.filter(wanted).groupBy(identity).map { case (w, xs) => w -> xs.size })
    }
    val df = wanted.map(w => w -> tf.count(_._3.contains(w))).toMap
    qTerms.map { case (q, terms) =>
      q -> tf.flatMap { case (id, dl, counts) =>
        val contribs = terms.filter(counts.contains).map { w =>
          val f = counts(w).toDouble
          val d = df(w).toDouble
          math.round(1e6 * math.log(1.0 + (nDocs - d + 0.5) / (d + 0.5)) *
            (f * (1.2 + 1.0)) / (f + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl)))
        }
        if (contribs.isEmpty) None else Some(id -> contribs.sum)
      }.toMap
    }.toMap
  }
}
