package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based document classification: a multinomial Naive Bayes
  * text classifier trained and applied entirely as dataframe
  * aggregations — the distributed, oracle-exact stand-in for the
  * fastText-style quality/language filters every large-scale corpus
  * pipeline runs ("train on a trusted reference corpus, score the
  * crawl, keep what looks in-domain"). (Extension beyond the
  * reference surface — CrysDA has no model-based scoring.)
  *
  * Model: two-class multinomial NB with add-one smoothing over the
  * shared vocabulary V (union of both classes' tokens):
  *   p(t | c) = (count_c(t) + 1) / (total_c + V)
  * A document's score is the log-odds
  *   ln p(pos) − ln p(neg) + Σ_t [ln p(t|pos) − ln p(t|neg)]
  * Per-token log-likelihood ratios quantize to integer micro-units
  * (round once, AFTER the subtraction), so each document's LLR sum is
  * an order-independent long and bit-reproducible cross-engine — the
  * same exactness contract as BM25 / tf-idf / LM scoring. Tokens
  * unseen in BOTH classes still carry signal
  * (ln[(total_neg+V)/(total_pos+V)]) and are computed in the scoring
  * join via coalesce, not looked up.
  *
  * Scale shape: training is one vocabulary-sized aggregation with
  * map-side partials (vocabulary ≪ corpus) plus a two-long totals row;
  * scoring joins the exploded corpus to the vocabulary on the term key
  * (AQE broadcasts the model when it fits — it is |V| rows) and
  * reduces per document. No window, no driver loop; the model frame
  * can be persisted and reused across scoring runs.
  */
object Classifier {

  private def toks(text: Column) = TextFunctions.wsTokens(text)

  /** A driver-compiled NB model: per-term LLRs plus the unseen-token
    * LLR and the class prior, all in micro-nats. Small by nature
    * (vocabulary-sized — the same broadcast class as BPE merge
    * tables); produced by [[compileNb]], consumed by
    * [[nbScoreBroadcast]], serializable for reuse across jobs. */
  case class NbCompiledModel(llrMicro: Map[String, Long],
                             unseenLlrMicro: Long, priorMicro: Long)

  /** Per-term NB model: (term, c_pos, c_neg) occurrence counts by
    * class, for inspection or reuse. `label` is any boolean Column
    * over `train`'s rows; null labels train as negative (documented
    * coalesce, matching SQL `WHERE`-style two-valued reads). */
  def nbModel(train: DataFrame, textCol: String, label: Column): DataFrame = {
    // explode_outer + post-filter, NOT plain explode: explode's
    // inferred size-filter pushdown duplicates the tokenize expression
    // below the projection (see LangModel.bigramXent — measured 2-10x)
    train
      .select(coalesce(label, lit(false)).as("__pos"),
        toks(coalesce(col(textCol), lit(""))).as("__toks"))
      .select(col("__pos"), explode_outer(col("__toks")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term"))
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("c_neg"))
  }

  /** Train on `train` (positive class = rows where `label`) and score
    * every row of `docs`: (doc_id, n_tokens, llr_micro, score_micro,
    * pred). `score_micro` = prior + token LLR sum in micro-nats;
    * `pred` = score_micro > 0. Pass the same frame twice to
    * self-score a labeled corpus. Raises at evaluation if either
    * class has no documents — there is no model to score under
    * (mirrors unigramXent's empty-corpus contract). */
  def nbScore(docs: DataFrame, idCol: String, textCol: String,
              train: DataFrame, trainTextCol: String,
              label: Column): DataFrame = {
    val model = nbModel(train, trainTextCol, label)
    // totals: token mass + doc counts per class, vocab size, prior.
    // One broadcast row; doc counts come from the un-exploded frame.
    val mass = model.agg(
      coalesce(sum(col("c_pos")), lit(0L)).as("__tpos"),
      coalesce(sum(col("c_neg")), lit(0L)).as("__tneg"),
      count(lit(1)).as("__v"))
    val docCounts = train
      .select(coalesce(label, lit(false)).as("__pos"))
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("__npos"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("__nneg"))
    val totals = mass.crossJoin(docCounts)
      .select(col("__tpos"), col("__tneg"), col("__v"),
        when(col("__npos") > 0 && col("__nneg") > 0,
          round(lit(1e6) *
            (log(col("__npos").cast("double")) -
              log(col("__nneg").cast("double"))), 0).cast("long"))
          .otherwise(raise_error(lit(
            "nbScore: a class has no training documents — two-class NB " +
              "needs both (check the label expression)")))
          .as("__prior"))

    val grams = docs
      .select(col(idCol).cast("long").as("doc_id"),
        toks(coalesce(col(textCol), lit(""))).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        explode_outer(col("__toks")).as("term"))

    grams
      .join(model, Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_tokens"), col("__prior"),
        when(col("term").isNotNull,
          // one rounding, after the subtraction — the quantity both
          // engines reproduce; unseen-in-both terms take coalesce(0)
          round(lit(1e6) * (
            log((coalesce(col("c_pos"), lit(0L)) + lit(1.0)) /
              (col("__tpos") + col("__v"))) -
              log((coalesce(col("c_neg"), lit(0L)) + lit(1.0)) /
                (col("__tneg") + col("__v")))), 0).cast("long"))
          .otherwise(lit(0L)).as("__llr"))
      .groupBy(col("doc_id"))
      .agg(first(col("n_tokens")).as("n_tokens"),
        sum(col("__llr")).as("llr_micro"),
        first(col("__prior")).as("__prior"))
      .select(col("doc_id"), col("n_tokens"), col("llr_micro"),
        (col("__prior") + col("llr_micro")).as("score_micro"),
        // 0/1 long, not boolean: the oracle hash compares raw values
        // and integer renders identically across engines
        when(col("__prior") + col("llr_micro") > 0, 1L).otherwise(0L)
          .as("pred"))
  }

  /** Compile the model to the driver for map-only scoring: per-term
    * LLRs COMPUTED IN SPARK with the exact expression [[nbScore]]'s
    * join path uses (same log, same single HALF_UP rounding), then
    * collected — so the two paths sum identical per-token longs and
    * agree bit-for-bit. `maxVocab` bounds the collect (a model is
    * vocabulary-sized; a corpus-sized "vocabulary" means the text
    * column is not tokenizable prose and scoring it this way is a
    * bug, not a bigger driver). */
  def compileNb(train: DataFrame, trainTextCol: String, label: Column,
                maxVocab: Long = 2L * 1000 * 1000): NbCompiledModel = {
    // persisted across the two actions below (totals head + llr
    // collect) — without it the whole tokenize/explode/count
    // aggregation over the training corpus runs twice
    graft.core.Persisted.holding { hold =>
      compileFrom(hold(nbModel(train, trainTextCol, label)), train, label, maxVocab)
    }
  }

  private def compileFrom(model: DataFrame, train: DataFrame, label: Column,
                          maxVocab: Long): NbCompiledModel = {
    val mass = model.agg(
      coalesce(sum(col("c_pos")), lit(0L)).as("__tpos"),
      coalesce(sum(col("c_neg")), lit(0L)).as("__tneg"),
      count(lit(1)).as("__v"))
    val docCounts = train
      .select(coalesce(label, lit(false)).as("__pos"))
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("__npos"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("__nneg"))
    val totRow = mass.crossJoin(docCounts)
      .select(
        when(col("__npos") > 0 && col("__nneg") > 0,
          round(lit(1e6) *
            (log(col("__npos").cast("double")) -
              log(col("__nneg").cast("double"))), 0).cast("long"))
          .otherwise(raise_error(lit(
            "compileNb: a class has no training documents — two-class NB " +
              "needs both (check the label expression)")))
          .as("__prior"),
        round(lit(1e6) * (
          log(lit(1.0) / (col("__tpos") + col("__v"))) -
            log(lit(1.0) / (col("__tneg") + col("__v")))), 0).cast("long")
          .as("__unseen"),
        col("__tpos"), col("__tneg"), col("__v"))
      .head()
    val vocabSize = totRow.getLong(4)
    require(vocabSize <= maxVocab,
      s"compileNb: vocabulary has $vocabSize terms — over maxVocab=" +
        s"$maxVocab. A model this size should score via the join path " +
        s"(nbScore); raise maxVocab only if the driver genuinely has the " +
        s"memory.")
    val (tpos, tneg, v) = (totRow.getLong(2), totRow.getLong(3), vocabSize)
    val llr = model
      .select(col("term"),
        round(lit(1e6) * (
          log((col("c_pos") + lit(1.0)) / lit(tpos.toDouble + v)) -
            log((col("c_neg") + lit(1.0)) / lit(tneg.toDouble + v))), 0)
          .cast("long").as("llr"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    NbCompiledModel(llr, totRow.getLong(1), totRow.getLong(0))
  }

  /** [[nbScoreBroadcast]] as a column APPEND: keeps every input
    * column and adds `score_micro` + `pred` (0/1 long) — no id
    * column needed, no projection of the caller's row. The form
    * filters compose on (batch or stream — still one stateless
    * projection): `withNbScore(df, "text", m).filter($"pred" === 1)`. */
  def withNbScore(docs: DataFrame, textCol: String, model: NbCompiledModel,
                  scoreCol: String = "score_micro",
                  predCol: String = "pred"): DataFrame = {
    require(!docs.columns.contains(scoreCol) && !docs.columns.contains(predCol),
      s"withNbScore appends $scoreCol/$predCol — the frame already has one " +
        "(pass different names)")
    docs
      .withColumn(scoreCol,
        lit(model.priorMicro) + graft.functions.Kernels.nbScoreSum(
          toks(coalesce(col(textCol), lit(""))),
          model.llrMicro, model.unseenLlrMicro))
      .withColumn(predCol, when(col(scoreCol) > 0, 1L).otherwise(0L))
  }

  /** Map-only scoring under a [[compileNb]] model: same output schema
    * and bit-identical values to [[nbScore]], but zero shuffles — one
    * hash probe per token inside a single projection
    * ([[graft.functions.Kernels.nbScoreSum]]). The shape for scoring
    * at INGEST: works unchanged on a streaming frame (no state, no
    * watermark — it is a stateless projection), and on batch it
    * trades [[nbScore]]'s term-key join for an expression-resident
    * model, the right call whenever the model is reused across many
    * batches. */
  def nbScoreBroadcast(docs: DataFrame, idCol: String, textCol: String,
                       model: NbCompiledModel): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        toks(coalesce(col(textCol), lit(""))).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        graft.functions.Kernels.nbScoreSum(col("__toks"),
          model.llrMicro, model.unseenLlrMicro).as("llr_micro"))
      .select(col("doc_id"), col("n_tokens"), col("llr_micro"),
        (lit(model.priorMicro) + col("llr_micro")).as("score_micro"),
        when(lit(model.priorMicro) + col("llr_micro") > 0, 1L).otherwise(0L)
          .as("pred"))
}
