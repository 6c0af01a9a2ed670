package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-text relevance search over a document corpus: BM25 scoring with
  * a distributed top-k per query. (Extension beyond the reference
  * surface — the retrieval primitive of a training-data pipeline:
  * "which documents match this probe query" for corpus exploration,
  * eval-set mining, and targeted filtering.)
  *
  * Scale shape (the plan you want at 100 TB):
  *   - the query-term dictionary is tiny → BROADCAST to prune the
  *     exploded corpus token stream map-side, BEFORE any shuffle: only
  *     tokens that appear in some query ever reach an Exchange;
  *   - term frequencies aggregate on (doc, term) with map-side partial
  *     counts (doc length rides along via `first(dl)` — it is
  *     functionally dependent on doc_id, so no second join);
  *   - document frequencies reduce the tf frame by term (≤ dictionary
  *     rows) and broadcast back;
  *   - corpus stats (N, avgdl) are ONE row, broadcast;
  *   - per-query accumulation is an integer sum and the final top-k is
  *     the bounded-k fold ([[graft.ml.BoundedK]], its [[graft.ml.TopKAgg]]
  *     order) — queries × tasks × k rows to the shuffle, never the
  *     corpus, no Window.
  *
  * Determinism contract: each (query, doc, term) contribution is
  * quantized to integer MICRO-units (`round(c * 1e6)` as a long) before
  * summation, so the per-doc score is an order-independent integer sum —
  * bit-identical under any partitioning, any merge order, and any
  * SQL engine computing the same formula (the DuckDB oracle does).
  * BM25 ranking is insensitive to 1e-6 quantization. Scores surface
  * both as `score_micro` (exact long) and `score` (double, /1e6).
  *
  * Formula (Lucene-style BM25):
  *   idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
  *   c(t, d)   = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b*dl/avgdl))
  *   score(q,d)= Σ_{t ∈ distinct(q)} c(t, d)
  * Query terms are de-duplicated (Lucene default). Terms absent from
  * the corpus contribute 0. Tokenization is lowercase
  * whitespace-collapsed single-space split — mirror it exactly in any
  * oracle.
  */
object Search {

  /** Lowercase whitespace tokens as used for BM25 (normalize → split on
    * single space). Kept dead-simple so SQL oracles reproduce it with
    * `string_split(regexp_replace(lower(trim(x)), '\s+', ' ', 'g'), ' ')`. */
  private def bmTokens(text: org.apache.spark.sql.Column) =
    TextFunctions.wsTokens(text)

  /** Top-k BM25 matches per query.
    *
    * @param docs    corpus frame
    * @param idCol   long-typed document id column in `docs`
    * @param textCol text column in `docs`
    * @param queries query frame (tiny — broadcast)
    * @param qidCol  long-typed query id column in `queries`
    * @param qtextCol query text column in `queries`
    * @param k       results per query
    * @return (query_id, doc_id, score_micro, score, rank) — rank 1..k by
    *         (score desc, doc_id asc), a total order
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qidCol: String, qtextCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    val spark = docs.sparkSession

    // (doc_id, dl, term): dl computed BEFORE the explode and carried
    // through the tf aggregation — avoids a corpus-sized self-join
    // explode_outer + post-filter: a plain explode's inferred
    // size-filter pushes through the projection and re-tokenizes
    // (see SCALING.md "Generate-pushdown pitfall")
    val toked = docs.select(col(idCol).cast("long").as("doc_id"),
        bmTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).as("dl"),
        explode_outer(col("__toks")).as("term"))
      .filter(col("term").isNotNull)

    // query → distinct terms (tiny, broadcast everywhere below)
    val qterms = queries.select(col(qidCol).cast("long").as("query_id"),
        explode(bmTokens(col(qtextCol))).as("term"))
      .distinct()
    val dict = qterms.select("term").distinct()

    // corpus stats: ONE row. avgdl as an explicit exact-integer-sum
    // division so any oracle computes the identical double.
    // DELIBERATE second tokenization pass: stats needs a corpus-global
    // aggregate over ALL docs (N, avgdl) while the tf branch needs the
    // exploded tokens — Spark computes shared subtrees once per
    // exchange, so avoiding this scan would mean persisting the
    // exploded corpus (≫ the text itself at 100 TB) or shuffling a
    // per-doc projection; a second column-pruned scan of the text
    // column is the cheaper trade at every scale we measured.
    val stats = docs.select(size(bmTokens(col(textCol))).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"))

    // map-side dictionary prune, then ONE shuffle for tf
    val tf = toked.join(broadcast(dict), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

    // df per term: ≤ dictionary rows after the reduce → broadcast back
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

    val contrib = tf
      .join(broadcast(dfreq), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(lit(1e6) *
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))),
          0).cast("long").as("ci"))

    val scored = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ci")).as("score_micro"))

    graft.ml.TopK.perQuery(
        scored.select(col("query_id"), col("doc_id").as("nn_id"),
          col("score_micro").cast("double").as("cos_sim")), k)
      .select(col("query_id"), col("nn_id").as("doc_id"),
        col("cos_sim").cast("long").as("score_micro"),
        (col("cos_sim") / lit(1e6)).as("score"),
        col("rank"))
  }

  /** Per-document keyword extraction: the top-k terms of each document
    * by tf-idf (sklearn-style smooth idf: `ln((N+1)/(df+1)) + 1`),
    * scores quantized to integer micro-units (order-independent-exact,
    * oracle-reproducible like BM25).
    *
    * Scale shape: tf aggregates on (doc, term) — the corpus-scale
    * shuffle; df reduces tf by term (vocabulary-sized, with map-side
    * partials) and joins back on the term key; corpus size N is one
    * broadcast row; the per-doc top-k is the bounded-k fold with a
    * string payload ([[graft.ml.BoundedK]], its [[graft.ml.TopKStrAgg]]
    * order, via [[graft.ml.TopK.termsPerDoc]]) — docs × tasks × k
    * buffered terms to the final shuffle, no Window.
    * Returns (doc_id, term, tfidf_micro, rank). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    val tf = docs.select(col(idCol).cast("long").as("doc_id"),
        bmTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), explode_outer(col("__toks")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(lit(1e6) * col("tf") *
          (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)),
          0).cast("long").as("tfidf_micro"))
    graft.ml.TopK.termsPerDoc(scored, col("tfidf_micro").cast("double"), k)
      .select(col("doc_id"), col("term"),
        col("score").cast("long").as("tfidf_micro"),
        col("rank").cast("long").as("rank"))
  }

  /** Reciprocal-rank fusion of any number of per-query rankings (each
    * a frame of `query_id, doc_id, rank`): a document scores
    * Σ_r 1/(k0 + rank_r) over the rankings that retrieved it. Like
    * BM25 above, each term is quantized to integer micro-units —
    * `round(1e6 / (k0 + rank))` — so the fused score is an
    * order-independent long any engine reproduces.
    *
    * Scale shape: the inputs are already top-k'd (queries × k rows
    * each), so the union + sum is tiny regardless of corpus size; the
    * final top-k reuses the bounded-k fold ([[graft.ml.TopK.perQuery]]).
    * Returns (query_id, doc_id, rrf_micro, rank). */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k > 0 && k0 >= 0, s"bad k=$k / k0=$k0")
    val scored = rankings
      .map(_.select(col("query_id"), col("doc_id"),
        round(lit(1e6) / (lit(k0.toDouble) + col("rank")), 0)
          .cast("long").as("__c")))
      .reduce(_ unionByName _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__c")).as("rrf_micro"))
    graft.ml.TopK.perQuery(
        scored.select(col("query_id"), col("doc_id").as("nn_id"),
          col("rrf_micro").cast("double").as("cos_sim")), k)
      .select(col("query_id"), col("nn_id").as("doc_id"),
        col("cos_sim").cast("long").as("rrf_micro"), col("rank"))
  }

  /** Hybrid retrieval: BM25 (lexical) and brute-force cosine
    * (semantic) rankings fused with [[rrfFuse]] — the standard
    * two-tower search pattern. `corpus` carries both a text and an
    * embedding column; `queries` carries query text and a probe
    * vector. Each ranker contributes its top `kPerRanker`. */
  def hybridTopK(corpus: DataFrame, idCol: String, textCol: String, vecCol: String,
                 queries: DataFrame, qidCol: String, qtextCol: String, qvecCol: String,
                 k: Int, kPerRanker: Int = 20, k0: Int = 60): DataFrame = {
    val lexical = bm25TopK(corpus, idCol, textCol,
        queries, qidCol, qtextCol, kPerRanker)
      .select(col("query_id"), col("doc_id"), col("rank"))
    // excludeSelf = false: query ids are a separate namespace here — a
    // doc whose id happens to equal a query id must stay retrievable
    val semantic = graft.ml.Similarity.bruteForceTopK(corpus, idCol, vecCol,
        queries, qidCol, qvecCol, kPerRanker, excludeSelf = false)
      .select(col("query_id"), col("nn_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lexical, semantic), k, k0)
  }
}
