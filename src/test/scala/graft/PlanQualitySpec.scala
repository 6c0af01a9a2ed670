package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression guards: the properties that matter at 100 TB —
  * filters reaching the parquet scan, schemas pruned to used columns,
  * small dimensions broadcast, aggregates running partial-then-final —
  * asserted on the actual physical plans so a refactor can't silently
  * regress them. */
class PlanQualitySpec extends GraftSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(FormattedMode)

  test("q_filter pushes predicates into the parquet scan") {
    val p = plan("q_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity,45.0)"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q_select prunes the read schema to the projected columns") {
    val p = plan("q_select")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_extendedprice"), readSchema)
    assert(readSchema.contains("l_returnflag"), readSchema)
  }

  test("q_join_inner broadcasts the dimension sides") {
    val p = plan("q_join_inner")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q1_agg aggregates partially before the shuffle") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), p)
    // exactly one shuffle for the aggregation plus one for the sort
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 2, p)
  }

  test("q_vocab partial-aggregates word counts and takes top-k, no global sort") {
    val p = plan("q_vocab")
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // one shuffle for the word aggregation; the top-k needs none
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 1, p)
  }

  test("q_interval_join plans a binned equi-join — no nested loop, no dedup aggregate") {
    val p = plan("q_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the overlap pairs come from a JOIN on the bin key, and the
    // exactly-once first-bin filter means no distinct anywhere after it
    assert(p.contains("Join"), p)
  }

  test("q_hopping_window partial-aggregates under the window explode") {
    val p = plan("q_hopping_window")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    // one shuffle for the aggregation, one for the output ordering
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 2, p)
  }

  test("q_repetition evaluates the kernel once in a map-only pass") {
    val p = plan("q_repetition")
    val kernelMentions = "repetitionstatsexpr".r.findAllIn(p.toLowerCase).size
    // ≥1 keeps the guard honest (0 would mean the kernel left the plan
    // and this test stopped guarding); ≤2 = one project + schema echo
    assert(kernelMentions >= 1 && kernelMentions <= 2, p)
    // the only exchange is the output ordering
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("q_lead_lag windows are partitioned (no global single-partition window)") {
    val p = plan("q_lead_lag")
    assert(p.contains("Window"), p)
    assert(p.contains("windowspecdefinition(user_id"), p)
    // lazy frame ordering: no extra global-sort exchange before the window
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 2, p)
  }

  test("q_dedup_minhash plans no cartesian product") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("embeddingDedup (LSH path) is a bucket equi-join, never all-pairs") {
    import graft.ml.Dedup
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = Dedup.embeddingDedup(e, "vec_id", "embedding",
      threshold = 0.45, nBits = 4, bands = 64)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("embeddingDedup ALL-DEFAULTS (auto nBits+bands) keeps the same plan shape") {
    // r11: self-sizing flips the default geometry — the sizing count()
    // runs as its own job at build time, so the RESULT plan must be
    // byte-for-byte the bucket-join shape the explicit-geometry test
    // pins, never a degraded all-pairs fallback
    import graft.ml.Dedup
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = Dedup.embeddingDedup(e, "vec_id", "embedding")
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_ann_topk folds top-k in a partial aggregate — no full-corpus window") {
    val p = plan("q_ann_topk")
    // the per-query top-k must be a partial+final aggregate (bounded
    // shuffle of queries×tasks×k buffers), never a window that exchanges
    // the whole corpus×queries candidate set
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.toLowerCase.contains("partial_topkagg"), p)
  }

  test("persisted IVF index queries prune to the probed list partitions") {
    import graft.ml.Similarity
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val path = tmpPath("graft-test-ivf")
    Similarity.buildIvfIndex(e, "vec_id", "embedding", path, nLists = 8)
    val queries = e.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
    val res = Similarity.ivfTopKIndexed(spark, path, queries, "vec_id", "embedding",
      k = 5, nProbe = 2)
    val p = res.queryExecution.explainString(FormattedMode)
    // the lists scan must carry a PartitionFilters entry on list_id —
    // unprobed inverted lists are pruned at file-listing time, so a
    // query touches nProbe/nLists of the index bytes
    val scanLine = p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scanLine.contains("list_id"), p)
    // the persisted index answers identically to the in-memory IVF path
    val direct = Similarity.ivfTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nLists = 8, nProbe = 2)
      .select("query_id", "rank", "nn_id").collect().map(_.toSeq).toSet
    val indexed = res.select("query_id", "rank", "nn_id").collect().map(_.toSeq).toSet
    assert(indexed == direct)
  }

  test("bucketed tables join with no exchange and no sort") {
    import graft.sources.Tables
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    for (t <- Seq("b_lineitem", "b_orders")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(tmpPath(s"graft-test-warehouse/$t"))
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    Tables.writeBucketed(li, "b_lineitem", 4, Seq("l_orderkey"))
    Tables.writeBucketed(ord, "b_orders", 4, Seq("l_orderkey"))
    // hint forces SMJ (these sf0.001 tables would broadcast); what the
    // bucketing buys is visible in the SMJ shape: co-located +
    // co-sorted bucket files — no shuffle before the join
    val joined = Tables.readTable(spark, "b_lineitem").hint("merge")
      .join(Tables.readTable(spark, "b_orders"), Seq("l_orderkey"))
    val p = joined.queryExecution.explainString(FormattedMode)
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange"), p)
    assert(joined.count() == li.count())
  }

  test("audio transforms (scale / resample / fingerprint) stay map-only") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val media = Seq((1L, Multimodal.pcmWavBytes(16000, new Array[Short](4096))))
      .toDF("media_id", "content")
    for (df <- Seq(Multimodal.scaleAudioPcm(media, 1, 2),
                   Multimodal.resampleAudioPcm(media, 8000),
                   Multimodal.withAudioFingerprint(media))) {
      val p = df.queryExecution.explainString(FormattedMode)
      assert(!p.contains("Exchange"), p)
      assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
    }
  }

  test("IVF kmeans|| seeding never shuffles the corpus (broadcast candidates only)") {
    import org.apache.spark.sql.functions.col
    import graft.ml.Similarity
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // the D2-scoring pass per seeding round: corpus vs broadcast
    // candidate list — assert the shape on the assign pass, which uses
    // the same crossJoin(broadcast(...)) skeleton the rounds do
    val cents = Similarity.centroids(emb, "vec_id", "embedding", nLists = 4)
    val p = Similarity.assignLists(emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", cents)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // the corpus side itself is never exchanged: the only exchange in
    // the plan is the broadcast of the tiny centroid aggregate
    assert(!"""\(\d+\) Exchange hashpartitioning""".r.findFirstIn(p).isDefined, p)
  }

  test("ungrouped addRowNumber/slice never plan a partition-less window") {
    import graft.core.CrysFrame
    val li = CrysFrame(spark.read.parquet(s"$dir/lineitem.parquet"))
    for (f <- Seq(
        li.sortBy("l_orderkey", "l_linenumber").addRowNumber("rn"),
        li.sortBy("l_orderkey", "l_linenumber").slice(1 to 100))) {
      // the ordinal comes from a range sort + RDD zipWithIndex: the
      // visible plan is an RDD scan with the sort in its lineage — no
      // Window operator, no single-partition Exchange anywhere
      val p = f.df.queryExecution.explainString(FormattedMode)
      assert(!p.contains("Window"), p)
      assert(!p.contains("SinglePartition"), p)
    }
  }

  test("ungrouped exact sampling never plans a partition-less window") {
    import graft.core.CrysFrame
    val li = CrysFrame(spark.read.parquet(s"$dir/lineitem.parquet"))
    for (f <- Seq(li.sampleN(50), li.sampleFrac(0.01),
                  li.sampleN(50, replace = true))) {
      val p = f.df.queryExecution.explainString(FormattedMode)
      assert(!p.contains("Window"), p)
      assert(!p.contains("SinglePartition"), p)
    }
  }

  test("take/takeLast compile to TakeOrderedAndProject, not a global window") {
    import graft.core.CrysFrame
    val li = CrysFrame(spark.read.parquet(s"$dir/lineitem.parquet"))
    for (f <- Seq(li.sortBy("l_orderkey", "l_linenumber").take(50),
                  li.sortBy("l_orderkey", "l_linenumber").takeLast(50))) {
      val p = f.df.queryExecution.explainString(FormattedMode)
      assert(p.contains("TakeOrderedAndProject"), p)
      assert(!p.contains("Window"), p)
      assert(!p.contains("SinglePartition"), p)
    }
  }

  test("heavy-hitter recount broadcasts candidates — no full-key exchange") {
    import org.apache.spark.sql.functions.col
    // the final plan must join the corpus to the candidate set via
    // broadcast and aggregate partially; the only exchange key is the
    // ≤counters candidate space, never the corpus's full key column
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val top = graft.ml.HeavyHitters.topKExact(
      docs.select(col("lang").as("k")), col("k"), k = 2, counters = 64)
    val p = top.queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_strip_html is a map-only regexp chain — no exchange, inside codegen") {
    val p = plan("q_strip_html")
    // the sortBy for the oracle dump is the only allowed exchange
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 1, p)
    // the 11-step chain is evaluated ONCE, in a single Project — the
    // n_plain length() reads the text_plain slot, not a second copy
    assert("""\Q(?is)<script\E""".r.findAllIn(p).size == 1, p)
    assert(!p.contains("BatchEvalPython") && !p.contains("mapPartitions"), p)
  }

  test("mixtureResample's corpus side is a broadcast join + map-side filter") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ml.Sampling.mixtureResample(docs, "lang", "doc_id",
        Map("en" -> 0.6, "de" -> 0.4), 0.5)
      .queryExecution.explainString(FormattedMode)
    // rates reach the corpus via broadcast — the corpus itself never
    // shuffles; the only exchanges aggregate the tiny per-lang stats
    assert(p.contains("BroadcastHashJoin"), p)
    val corpusExchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning(lang")).size
    assert(!p.contains("CartesianProduct"), p)
    assert(corpusExchanges <= 1, p) // the stats groupBy only, never the corpus
  }

  test("dedupAgainstExact ships 8-byte hashes, not text, through the anti-join") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.ml.Dedup.dedupAgainstExact(
      docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text")
    val p = q.queryExecution.explainString(FormattedMode)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the corpus side reduces to distinct hashes BEFORE the join: a
    // partial aggregate on the 8-byte key, so join keys are hashes
    assert(p.contains("xxhash64"), p)
    assert("""keys=\[__against_chash""".r.findFirstIn(p).isDefined ||
      p.contains("__against_chash"), p)
  }

  test("q_mixture_exact takes the sort-free path — no per-source Window sort") {
    // partitionBy(source) would sort each source's ENTIRE slice in one
    // task; with sample-sized targets the bounded aggregate + semi-join
    // must be the plan (the window fallback only for huge targets or
    // non-integral ids)
    val p = plan("q_mixture_exact")
    assert(!p.contains("Window"), p.take(1200))
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("z-order layout is one range exchange, no extra shuffles") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val p = graft.sources.ZOrder.zOrderBy(
        li, Seq("l_partkey", "l_suppkey"), numFiles = 8)
      .queryExecution.explainString(FormattedMode)
    // count node-detail headers ("(3) Exchange"), not tree-summary rows
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges == 1, s"expected exactly 1 exchange:\n$p")
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("nbScoreBroadcast is one shuffle-free projection") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val train = Seq(("spark join", true), ("sugar oven", false))
      .toDF("text", "lab")
    val m = graft.text.Classifier.compileNb(train, "text", col("lab"))
    val docs = Seq((1L, "spark sugar")).toDF("doc_id", "text")
    val p = graft.text.Classifier.nbScoreBroadcast(docs, "doc_id", "text", m)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("semanticDedup shuffles only on the cluster key — no pair join, no cartesian") {
    import org.apache.spark.sql.functions.col
    val e = SparkEntry.t(spark, dir, "embeddings")
    val p = graft.ml.Dedup.semanticDedup(e, "vec_id", "embedding",
        threshold = 0.45, nLists = 4, refineIters = 1,
        clusterBudget = 0L) // guard off: its count pass is a separate job
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"), p)
    // the dup-set side: one hash-aggregate exchange keyed by list_id
    // carries the vectors to their clusters; everything upstream of it
    // is broadcast (centroids, now a collected literal) — no shuffle
    // of candidate PAIRS exists because no join on pair keys exists
    // (the kernel verifies inside the aggregation row). The final keep
    // is an 8-byte-key anti-join, broadcast at this scale — assert NO
    // sort-merge join appears anywhere, so a degraded anti-join (or a
    // sneaked-in pair join) fails the test outright.
    assert(p.contains("list_id"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("Join") && l.contains("LeftAnti")), p)
  }

  test("q_skew_agg plans two partial-then-final aggregations, nothing else") {
    val p = plan("q_skew_agg")
    // stage 1 keyed on (key, salt), stage 2 on key, plus the output
    // sort — three exchanges total; a regression that loses the
    // map-side combine or adds a join/window shows up as extra nodes
    assert(p.contains("HashAggregate"), p)
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 3, s"expected <=3 exchanges (2 agg stages + sort), got $exchanges\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_skew_join plans an equi-join on (key, salt) — no cartesian, salt dropped") {
    val p = plan("q_skew_join")
    // the right side is replicated by an explode, NOT by a cross join;
    // the join itself must stay a hash equi-join on the salted key
    assert(p.contains("Generate explode") || p.contains("explode"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // __salt is internal plumbing: it must not survive into the output
    val out = SparkEntry.queries("q_skew_join")(spark, dir).schema.fieldNames
    assert(!out.contains("__salt"), out.mkString(","))
  }

  test("q_pipeline / q_ingest_pipeline: the quality filter reads the " +
    "computed column, never a re-expanded formula (Kernels.once barrier)") {
    // without the barrier, PushDownPredicates substitutes the whole
    // score formula (and, in the ingest pipeline, the stripHtml chain
    // under it) into the pushed filter condition — ~10 regex-chain
    // evaluations per row at the scan (r14 plan audit). The pin:
    // every Filter condition stays attribute-sized.
    Seq("q_pipeline", "q_ingest_pipeline").foreach { q =>
      val p = plan(q)
      val conds = p.linesIterator.filter(_.trim.startsWith("Condition :")).toSeq
      assert(conds.nonEmpty, p)
      val worst = conds.maxBy(_.length)
      assert(worst.length < 800,
        s"$q: a pushed filter re-expanded a computed expression " +
          s"(${worst.length} chars):\n${worst.take(300)}")
      assert(conds.exists(_.contains("quality#")),
        s"$q: quality filter should test the projected attribute\n$p")
    }
  }

  test("q_embed_dedup: the banding kernel evaluates once per row " +
    "(no inferred size/isnotnull filter re-expansion)") {
    // posexplode over the aliased kernel column used to draw inferred
    // size(kernel)>0 AND isnotnull(kernel) filters through the
    // projection — three kernel evaluations per row at the scan
    // (SPARK-36715's cheap-expression guard cannot see through the
    // alias). The outer-explode form skips filter inference; the pin
    // counts kernel mentions in the plan.
    // the OPERATOR's own plan (the declared q_embed_dedup query is the
    // certificate harness, which legitimately builds more arms)
    val df = graft.ml.Dedup.embeddingDedup(
      SparkEntry.t(spark, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.45, bands = 64)
    val p = df.queryExecution.explainString(FormattedMode)
    val mentions = "cosinelshbandsexpr".r.findAllIn(p.toLowerCase).size
    assert(mentions == 1,
      s"banding kernel appears $mentions times — inferred-filter " +
        s"duplication regressed\n$p")
  }
}
