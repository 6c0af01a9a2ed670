package graft

import graft.core.CrysFrame
import graft.ml.{Dedup, Similarity}
import graft.multimodal.Multimodal
import graft.sources.Readers
import graft.text.TextFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Ingest (reference: spec/reader_spec.cr) + scale-extension operators. */
class ReadersExtensionsSpec extends GraftSpec {

  private def writeTmp(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, name)
    Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  /** reference: spec/reader_spec.cr:37-48 — the inference ladder. */
  test("CSV inference ladder: String,String,Double,Int,Bool,Long") {
    val p = writeTmp("types.csv",
      """a,b,c,d,e,f
        |foo,one,1.5,2,TRUE,9999999999
        |bar,two,2.5,3,FALSE,8888888888
        |""".stripMargin)
    val f = Readers.readCsv(spark, p)
    val dts = f.names.map(n => f.schema(n).dataType)
    assert(dts == Seq(StringType, StringType, DoubleType, IntegerType,
      BooleanType, LongType))
  }

  /** reference: spec/reader_spec.cr:50-57 */
  test("custom NA sentinel maps to null and inference skips it") {
    val p = writeTmp("na.csv", "a\nCUSTOM_NA\n4\n5\n")
    val f = Readers.readCsv(spark, p, naValue = "CUSTOM_NA")
    assert(f.schema("a").dataType == IntegerType)
    assert(f.out.filter(col("a").isNull).count() == 1)
  }

  /** reference: spec/reader_spec.cr:7-27 */
  test("headerless read with comment preamble auto-names Col1..N") {
    val p = writeTmp("pre.txt",
      "# preamble\n# more\n1\tx\t1.5\n2\ty\t2.5\n")
    val f = Readers.readCsv(spark, p, separator = "\t", header = false)
    assert(f.names == Seq("Col1", "Col2", "Col3"))
    assert(f.schema("Col1").dataType == IntegerType)
    assert(f.numRow == 2)
  }

  /** reference: src/crysda.cr:33, builder.cr:56-66 — `header` is an
    * integer row position in the reference; headerRow mirrors it. */
  test("headerRow reads a header buried at line 3 (file and string paths)") {
    val content = "title line\ngenerated 2026-08-12\na,b\n1,x\n2,y\n"
    val p = writeTmp("buried.csv", content)
    val f = Readers.readCsv(spark, p, headerRow = 2)
    assert(f.names == Seq("a", "b"))
    assert(f.numRow == 2)
    assert(f.schema("a").dataType == IntegerType)
    val s = Readers.readCsvString(spark, content, headerRow = 2)
    assert(s.names == Seq("a", "b") && s.numRow == 2)
    // composes with skip (skip counts first, then headerRow positions)
    val g = Readers.readCsv(spark, p, skip = 1, headerRow = 1)
    assert(g.names == Seq("a", "b") && g.numRow == 2)
    // contract: positioning a header you then ignore is an error
    intercept[IllegalArgumentException](
      Readers.readCsv(spark, p, header = false, headerRow = 2))
  }

  test("writeCsvFile produces ONE csv file that round-trips; toCsvString quotes") {
    val f = CrysFrame.of(spark, Seq("id", "note"),
      Seq(Seq(1, "plain"), Seq(2, "has,comma"), Seq(3, "has\"quote"), Seq(4, null)))
    val dir = Files.createTempDirectory("graft_single").toFile
    val path = new java.io.File(dir, "out.csv").getAbsolutePath
    f.writeCsvFile(path)
    val file = new java.io.File(path)
    assert(file.isFile, s"$path should be a single FILE, not a directory")
    val back = Readers.readCsv(spark, path)
    assert(back.names == Seq("id", "note"))
    assert(back.numRow == 4)
    assert(back.out.filter(col("note").isNull).count() == 1) // NA → null
    assert(back.out.filter(col("note") === "has,comma").count() == 1)
    // overwrite: second write onto the same path succeeds
    f.writeCsvFile(path)
    assert(new java.io.File(path).isFile)
    val s = f.toCsvString()
    assert(s.startsWith("id,note\n"))
    assert(s.contains("\"has,comma\"") && s.contains("\"has\\\"quote\""))
    assert(s.contains("4,NA"))
    // the contract that matters: toCsvString round-trips through the
    // engine's own readers (same univocity escaping as the Spark
    // sink) even for quote/backslash-hostile values
    val hostile = CrysFrame.of(spark, Seq("id", "v"),
      Seq(Seq(1, "a\"b"), Seq(2, "c\\d"), Seq(3, "e,f"), Seq(5, "\"\\\"")))
    val round = Readers.readCsvString(spark, hostile.toCsvString())
    assert(round.numRow == 4)
    val got = round.out.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(1 -> "a\"b", 2 -> "c\\d", 3 -> "e,f", 5 -> "\"\\\""),
      got.toString)
    // embedded newlines are quoted in the output; the line-oriented
    // string reader cannot reassemble them (documented), but the
    // multiLine file reader can
    val nl = CrysFrame.of(spark, Seq("id", "v"), Seq(Seq(4, "g\nh")))
    val nlPath = writeTmp("nl.csv", nl.toCsvString())
    val nlBack = Readers.readCsv(spark, nlPath, multiLine = true)
    assert(nlBack.numRow == 1)
    assert(nlBack.out.collect()(0).getString(1) == "g\nh")
  }

  /** reference: src/crysda.cr:30-37, builder.cr:61-62 — blank records
    * rejected BEFORE `skip` counts; skip_blank_lines=false keeps them. */
  test("skipBlankLines: true drops blanks (before skip), false keeps all-NA rows") {
    val p = writeTmp("blanks.csv", "a,b\n1,x\n\n2,y\n\n3,z\n")
    val kept = Readers.readCsv(spark, p)
    assert(kept.numRow == 3)
    val full = Readers.readCsv(spark, p, skipBlankLines = false)
    assert(full.numRow == 5)
    assert(full.out.filter(col("a").isNull && col("b").isNull).count() == 2)
    // inference ignores the NA rows: a stays integral
    assert(full.schema("a").dataType == IntegerType)
    // blank lines in the preamble don't count against skip when skipped
    val p2 = writeTmp("blankskip.csv", "\njunk junk\na,b\n1,x\n")
    val f2 = Readers.readCsv(spark, p2, skip = 1, comment = null)
    assert(f2.names == Seq("a", "b") && f2.numRow == 1)
    // string entry point honors the same contract
    val s = Readers.readCsvString(spark, "a,b\n1,x\n\n2,y\n",
      skipBlankLines = false)
    assert(s.numRow == 3)
  }

  test("CSV write → read round-trip with NA nulls") {
    val f = CrysFrame.of(spark, Seq("k", "v"),
      Seq(Seq("x", 1.5), Seq("y", null)))
    val dir = Files.createTempDirectory("graft_rt").toString + "/out"
    f.writeCsv(dir)
    val back = Readers.readCsv(spark, dir)
    assert(back.numRow == 2)
    assert(back.schema("v").dataType == DoubleType)
    assert(back.out.filter(col("v").isNull).count() == 1)
  }

  /** reference: spec/reader_spec.cr:99-116 — ragged keys, nested objects. */
  test("JSON read flattens nested objects and null-fills ragged keys") {
    val p = writeTmp("objs.json",
      """{"a": 1, "nested": {"x": 10, "y": "u"}}
        |{"a": 2, "extra": true}
        |""".stripMargin)
    val f = Readers.readJson(spark, p, multiLine = false)
    assert(f.names.toSet == Set("a", "extra", "x", "y"))
    assert(f.numRow == 2)
  }

  test("fromJsonString array parse") {
    val f = Readers.fromJsonString(spark, """{"a":1,"b":"x"}""")
    assert(f.names.toSet == Set("a", "b"))
  }

  test("parquet/ORC partitioned sinks round-trip and prune on read") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_colsink").toFile
    try {
      val f = CrysFrame(Seq(
        (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 40.0))
        .toDF("id", "grp", "v"))
      for ((name, write, read) <- Seq(
        ("parquet",
          (p: String) => f.writeParquet(p, partitionBy = Seq("grp")),
          (p: String) => Readers.readParquet(spark, p)),
        ("orc",
          (p: String) => f.writeOrc(p, partitionBy = Seq("grp")),
          (p: String) => Readers.readOrc(spark, p)))) {
        val dir = new java.io.File(base, name).getAbsolutePath
        write(dir)
        val back = read(dir)
        assert(back.names.toSet == Set("id", "grp", "v"), name)
        assert(back.out.count() == 4, name)
        // the partitioned layout must prune at file-listing time
        val plan = back.out.filter(col("grp") === "a")
          .queryExecution.executedPlan.toString
        assert(plan.contains("PartitionFilters") &&
          plan.contains("isnotnull(grp"), s"$name plan:\n$plan")
        assert(back.out.filter(col("grp") === "a").count() == 2, name)
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete()
      }
      rm(base)
    }
  }

  // --- text analysis ---

  test("token counts: whitespace and BPE-ish") {
    import spark.implicits._
    val df = Seq("hello world, friend!", "", "  a  b  ", "room101 x2").toDF("t")
    val got = df.select(
      TextFunctions.tokenCountWs(col("t")).as("ws"),
      TextFunctions.tokenCountBpe(col("t")).as("bpe")).collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(3, 0, 2, 2))
    assert(got(0).getInt(1) == 5) // hello world , friend !
    assert(got(3).getInt(1) == 4) // room 101 x 2 — letter↔digit splits
  }

  test("stripHtml: tags, script/style bodies, comments, entities, double-escape") {
    import spark.implicits._
    def strip(s: String): String =
      Seq(s).toDF("h").select(TextFunctions.stripHtml(col("h"))).head.getString(0)
    // tags become word boundaries, never concatenation
    assert(strip("<p>alpha</p><p>beta</p>") == "alpha beta")
    // script/style BODIES are removed (entities inside them never leak),
    // case-insensitive, attributes allowed, multiline
    assert(strip("a<script type=\"x\">if (1 &lt; 2)\n{ y }</script>b") == "a b")
    assert(strip("a<STYLE>p { color: red; }\nq { x }</STYLE>b") == "a b")
    // two script blocks: lazy repeat must not swallow the text between
    assert(strip("<script>x</script>keep<script>y</script>") == "keep")
    assert(strip("a<!-- note\nacross lines -->b") == "a b")
    // entity decode, &amp; last: double-escaped stays single-decoded
    assert(strip("1 &lt; 2 &amp;&amp; 3 &gt; 2") == "1 < 2 && 3 > 2")
    assert(strip("&amp;lt;") == "&lt;")
    assert(strip("&quot;q&quot;&nbsp;&#39;e&#39;") == "\"q\" 'e'")
    // malformed markup degrades to spaces, text outside blocks survives
    assert(strip("a < b > c") == "a c") // unescaped <...> reads as a tag
    assert(strip("broken <div") == "broken <div")
    // whitespace collapsed, ends trimmed
    assert(strip("  <div>\n  x\t y  </div>  ") == "x y")
  }

  test("canonicalizeUrl: case, default ports, fragments, tracking params, passthrough") {
    import spark.implicits._
    def canon(s: String): String =
      Seq(s).toDF("u").select(TextFunctions.canonicalizeUrl(col("u"))).head.getString(0)
    // scheme+host lowercase, PATH CASE PRESERVED, :80 dropped, fragment dropped
    assert(canon("HTTP://Example.COM:80/A/b?x=1#frag") == "http://example.com/A/b?x=1")
    // empty path -> '/', :443 dropped for https only
    assert(canon("https://H.com:443") == "https://h.com/")
    assert(canon("https://h.com:8443/p") == "https://h.com:8443/p")
    assert(canon("ftp://H.com:80/p") == "ftp://h.com:80/p")
    // tracking params removed wherever they sit; survivors keep order
    assert(canon("http://h.com/?utm_source=a&q=1&utm_medium=b") == "http://h.com/?q=1")
    assert(canon("http://h.com/p?fbclid=x&gclid=y") == "http://h.com/p")
    assert(canon("http://h.com/p?a=1&b=2") == "http://h.com/p?a=1&b=2")
    // dangling '?' drops; scheme-less strings pass through trimmed
    assert(canon("http://h.com/p?") == "http://h.com/p")
    assert(canon("  not a url  ") == "not a url")
    // a '?' INSIDE the fragment must not resurrect as a query string
    assert(canon("http://h.com/p#a/b?c") == "http://h.com/p")
    assert(canon("http://h.com/p?x=1#frag?y=2") == "http://h.com/p?x=1")
  }

  test("repetition kernel counts duplicate words and bigrams exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat the cat"),
      (2L, "a a a a"),
      (3L, "unique words only here"),
      (4L, "")).toDF("id", "norm")
    val rows = df.select(col("id"),
        graft.functions.Kernels.repetitionStats(col("norm")).as("st"))
      .select(col("id"), col("st.*")).collect().sortBy(_.getLong(0))
    // doc 1: 8 words, 5 distinct; bigrams: [the cat, cat sat, sat on,
    // on the, the mat, mat the, the cat] = 7 total, 6 distinct
    // ("the cat" repeats); top word "the" ×3
    assert(rows(0).getInt(1) == 8 && rows(0).getInt(2) == 5)
    assert(rows(0).getInt(3) == 7 && rows(0).getInt(4) == 6)
    assert(rows(0).getInt(5) == 3)
    // doc 2: maximal repetition — one distinct word, one distinct bigram
    assert(rows(1).getInt(1) == 4 && rows(1).getInt(2) == 1)
    assert(rows(1).getInt(3) == 3 && rows(1).getInt(4) == 1)
    assert(rows(1).getInt(5) == 4)
    // doc 3: zero repetition
    assert(rows(2).getInt(1) == 4 && rows(2).getInt(2) == 4)
    assert(rows(2).getInt(3) == 3 && rows(2).getInt(4) == 3)
    assert(rows(2).getInt(5) == 1)
    // doc 4: empty text — all counters zero, no division anywhere
    assert((1 to 5).forall(rows(3).getInt(_) == 0))
    // null text → null struct (null-safe expression contract)
    val nullRow = Seq(Tuple1(null: String)).toDF("norm")
      .select(graft.functions.Kernels.repetitionStats(col("norm")).as("st"))
      .collect()(0)
    assert(nullRow.isNullAt(0))
  }

  test("langId picks the stopword-dominant language, Han → zh") {
    import spark.implicits._
    val df = Seq(
      "the cat and the dog sat on the mat for it was warm",
      "der Hund und die Katze sind nicht auf der Straße",
      "le chat est dans la maison pour le moment avec il",
      "el perro y el gato es en la casa por una razón",
      "你好世界 这是中文",
      "zzz qqq xxx").toDF("t")
    val got = df.select(TextFunctions.langId(col("t"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "de", "fr", "es", "zh", "und"))
  }

  test("quality score is in [0,1] and penalizes junk") {
    import spark.implicits._
    val df = Seq(
      "This is a well formed English sentence with reasonable words in it.",
      "x x x x x x x x x x").toDF("t")
    val got = df.select(TextFunctions.qualityScore(col("t"))).collect().map(_.getDouble(0))
    assert(got.forall(s => s >= 0 && s <= 1))
    assert(got(0) > got(1))
  }

  test("fingerprint is whitespace/case-insensitive stable") {
    import spark.implicits._
    val df = Seq(("A  B c", "a b C"), ("abc", "abd")).toDF("x", "y")
    val got = df.select(
      (TextFunctions.fingerprint(col("x")) === TextFunctions.fingerprint(col("y"))).as("eq"))
      .collect().map(_.getBoolean(0))
    assert(got.toSeq == Seq(true, false))
  }

  // --- dedup ---

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),
      (4L, "completely different content about spark catalyst optimizer internals here")
    ).toDF("doc_id", "text")
  }

  test("topWords at vocabulary scale: 50k distinct words >> shuffle partitions") {
    // the TakeOrdered contract at a vocabulary far beyond the partition
    // count: exact top-k, k rows to the driver, never the vocabulary
    val n = 50000
    val docs = spark.range(n).selectExpr(
      "concat_ws(' ', transform(sequence(1, cast(id % 5 + 1 as int)), " +
        "x -> concat('w', cast(id as string)))) as text")
    val expected = (0 until n).map(i => (s"w$i", (i % 5 + 1).toLong))
      .sortBy { case (w, c) => (-c, w) }.take(25)
    val top = TextFunctions.topWords(docs, col("text"), 25)
    val got = top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
    // plan shape: a TakeOrdered merge, not a global sort of 50k words
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("exact dedup by content hash keeps min id") {
    val kept = Dedup.exactByContentHash(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L))
  }

  test("dedupAgainstExact: corpus matches dropped, batch-internal dups kept") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "unrelated corpus document about databases")).toDF("doc_id", "text")
    val batch = Seq(
      // normalization-equal to corpus 10 (case + whitespace differ)
      (1L, "  The QUICK brown fox jumps over the lazy dog near the river   bank today"),
      (2L, "a genuinely new document"),
      (3L, "a genuinely new document"), // batch-internal dup: deliberately KEPT
      (4L, "another new one")).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstExact(batch, corpus, "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 3L, 4L))
    // reusable corpus snapshot: distinct hashes, one per distinct content
    assert(Dedup.corpusContentHashes(corpus, "text").count() == 2L)
    // null-text rows SURVIVE even when the corpus also has null text
    // (xxhash64(NULL) = seed would otherwise collide them all onto one
    // phantom key); null corpus text contributes no dedup key
    val corpusN = corpus.union(Seq((12L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val batchN = Seq((5L, null.asInstanceOf[String]),
      (6L, "unrelated corpus document about databases")).toDF("doc_id", "text")
    val keptN = Dedup.dedupAgainstExact(batchN, corpusN, "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptN == Seq(5L), keptN.toString)
    assert(Dedup.corpusContentHashes(corpusN, "text").count() == 2L)
  }

  test("dedupAgainstNear: near-dups of corpus rows dropped, distinct kept; null ids survive") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // whitespace/case variant of the corpus row: normalization-equal
      // shingle set, so the signature agreement is 1.0 at any threshold
      (java.lang.Long.valueOf(1L), "The quick  brown fox jumps over the lazy dog near the river bank today"),
      (java.lang.Long.valueOf(2L), "completely different content about spark catalyst optimizer internals here"),
      (null.asInstanceOf[java.lang.Long], "also different null-id content survives untouched"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstNear(batch, corpus, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.6, shingleSize = 4)
      .select("doc_id").collect().map(r => Option(r.get(0)))
    assert(!kept.contains(Some(1L)), "near-dup of a corpus row survived")
    assert(kept.contains(Some(2L)) && kept.contains(None))
    // determinism under repartitioning (content-stable, like the rest)
    val again = Dedup.dedupAgainstNear(batch.repartition(7), corpus.repartition(3),
      "doc_id", "text", numHashes = 64, bands = 16, threshold = 0.6, shingleSize = 4)
      .select("doc_id").collect().map(r => Option(r.get(0)))
    assert(kept.toSet == again.toSet)
    // refuse-early: non-integral id column
    val bad = batch.withColumn("doc_id", col("doc_id").cast("string"))
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstNear(bad, corpus, "doc_id", "text")
    }
    assert(e.getMessage.contains("integral id column"))
  }

  test("minhash LSH dedup removes near-duplicates") {
    val kept = Dedup.minhashDedup(docs, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.6, shingleSize = 4)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept.contains(1L) && kept.contains(4L))
    assert(!kept.contains(2L)) // exact dup of 1
  }

  test("minhashDedup drops every id with a verified lower intra-bucket partner") {
    // contract: an id is dropped iff SOME lower id shares a band bucket
    // with it AND their signature agreement ≥ threshold — all intra-
    // bucket partners count, not just the bucket minimum (verifying only
    // against the min would miss a true dup whenever the bucket min is
    // an unrelated collision). Reference computation: the HOF signature/
    // band-key path (same hash family as the kernel) collected and
    // paired exhaustively driver-side. (The production per-bucket
    // maxPartners cap is inactive here — every corpus bucket is far
    // under 64 members — so exhaustive pairing IS the contract.)
    val numHashes = 64; val bands = 16; val thr = 0.7; val n = 4
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val withKeys = real
      .select(col("doc_id"), TextFunctions.normalizeText(col("text")).as("__norm"))
      .select(col("doc_id"), Dedup.signatureFromHashes(
        Dedup.shingleHashesFromNorm(col("__norm"), n), numHashes).as("sig"))
      .select(col("doc_id"), col("sig"),
        Dedup.bandKeys(col("sig"), numHashes, bands).as("keys"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray))
    val dropped = (for {
      (idB, sigB, keysB) <- withKeys
      if withKeys.exists { case (idA, sigA, keysA) =>
        idA < idB &&
          keysA.indices.exists(i => keysA(i) == keysB(i)) &&
          sigA.zip(sigB).count { case (x, y) => x == y }.toDouble / numHashes >= thr
      }
    } yield idB).toSet
    assert(dropped.nonEmpty) // the corpus has planted near-dups
    val expectedKept = withKeys.map(_._1).toSet -- dropped
    val kept = Dedup.minhashDedup(real, "doc_id", "text", numHashes, bands, thr, n)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == expectedKept)
  }

  test("per-bucket partner cap keeps a giant duplicate cluster linear and still dedups it") {
    import spark.implicits._
    // 100 identical docs: every band bucket holds all 100 ids. With
    // maxPartners=5 the pair fan-out is ≤ 5×100 per band (not 100²/2),
    // yet every non-min id still pairs with a verified smaller id, so
    // dedup keeps exactly the minimum
    val docs100 = (1L to 100L)
      .map(i => (i, "the exact same boilerplate text appears everywhere"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs100, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.9, shingleSize = 4,
      maxPartners = 5)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    // bounded: only the 5 smallest ids ever appear on the left
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got.length == 5 * 100 - (5 + 4 + 3 + 2 + 1)) // k×n − k(k+1)/2 ordered pairs
    val kept = Dedup.minhashDedup(docs100, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.9, shingleSize = 4,
      maxPartners = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L))
  }

  test("simhash: identical texts have distance 0, pairs found") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number]("hamming").longValue))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("simhashPairs recall contract: equals brute force up to maxDist") {
    // the maxDist+1-block pigeonhole must find EVERY pair within
    // maxDist, including distances the classic 4-block scheme (≤3)
    // cannot guarantee — asserted against exhaustive hamming distances
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hashes = real.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def brute(maxD: Int): Set[(Long, Long)] = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= maxD
    } yield (ia, ib)).toSet
    for (maxD <- Seq(3, 5)) {
      val got = Dedup.simhashPairs(real, "doc_id", "text", maxDist = maxD)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute(maxD), s"maxDist=$maxD")
    }
    // distances beyond the old 4-block guarantee exist in the corpus,
    // so the generalized contract is doing real work
    assert(brute(5).size > brute(3).size)
    intercept[IllegalArgumentException](
      Dedup.simhashPairs(real, "doc_id", "text", maxDist = 16))
  }

  test("ngram jaccard: identical=1, near-dup high, different low") {
    import spark.implicits._
    val df = Seq(("abcdefgh", "abcdefgh"), ("abcdefgh", "zzzzzzzz")).toDF("x", "y")
    val sims = df.select(Dedup.ngramJaccard(col("x"), col("y"), 3)).collect()
      .map(_.getDouble(0))
    assert(sims(0) == 1.0 && sims(1) == 0.0)
  }

  test("connectedComponents merges transitive clusters; CC dedup keeps one per cluster") {
    import spark.implicits._
    // star {1-3, 2-3} plus chain {10-11, 11-12} plus isolated pair {20-21}
    val pairs = Seq((1L, 3L), (2L, 3L), (10L, 11L), (11L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // a graph this small takes the local union-find path: (0, 0) stats
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == expected)
    assert(Dedup.lastCCStats == ((0, 0)), s"stats=${Dedup.lastCCStats}")
    // forcing the distributed loop must give the SAME labels, with the
    // observed-metric fixpoint check riding the per-round cache
    // materialization (exactly one driver action per round)
    val distLabels = Dedup.connectedComponents(pairs, localEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distLabels == expected)
    val (rounds, checks) = Dedup.lastCCStats
    assert(rounds >= 2 && checks == rounds, s"rounds=$rounds checks=$checks")
    // cluster dedup on the doc fixture: drops both copies of doc 1's
    // cluster (2 exact, 3 near), keeps the distinct doc 4
    val kept = Dedup.minhashDedupCC(docs, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.6, shingleSize = 4)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept.head == 1L && kept.contains(4L) && !kept.contains(2L))
  }

  test("LSH jaccardPairs equals brute-force high-jaccard pairs on real docs") {
    import graft.text.TextFunctions
    // candidate→verify via MinHash LSH must recover EVERY pair whose
    // exact 5-gram jaccard ≥ 0.7 on the test corpus (recall 1.0 at this
    // margin over the 0.5 est-threshold band filter), and nothing else —
    // this pins the candidate generation that the oracle-checked
    // q_jaccard_pairs (brute-force slice) cannot see
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lsh = Dedup.jaccardPairs(real, "doc_id", "text",
      threshold = 0.7, n = 5, numHashes = 64, bands = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = real
      .select(col("doc_id"), TextFunctions.normalizeText(col("text")).as("__norm"))
      .select(col("doc_id"), TextFunctions.shinglesFromNormalized(col("__norm"), 5).as("__sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("__sh").as("__sha"))
    val b = sh.select(col("doc_id").as("id_b"), col("__sh").as("__shb"))
    val inter = size(array_intersect(col("__sha"), col("__shb"))).cast("double")
    val uni = size(array_union(col("__sha"), col("__shb"))).cast("double")
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(inter / uni >= 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(lsh == brute)
  }

  // --- similarity search ---

  test("banded cosine LSH finds exactly the planted near-duplicate pairs") {
    import spark.implicits._
    // 40 random unit-ish vectors + 10 planted near-dups (tiny noise):
    // banded LSH (16 x 6-bit) must return exactly the brute-force pairs
    // at threshold 0.95 (miss prob ~6e-6 per pair — deterministic here)
    val rng = new scala.util.Random(7)
    def randVec() = Array.fill(32)(rng.nextGaussian().toFloat)
    val base = (0 until 40).map(i => i.toLong -> randVec())
    val dups = (0 until 10).map { i =>
      val (srcId, v) = base(i * 3)
      (100L + srcId) -> v.map(x => x + (rng.nextGaussian() * 0.01).toFloat)
    }
    val all = (base ++ dups).map { case (id, v) => (id, v.toSeq) }
    val df = all.toDF("id", "vec")
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val brute = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cos(va, vb) >= 0.95
    } yield (ia, ib)).toSet
    assert(brute.size == 10) // every planted pair, nothing else
    val lsh = Similarity.lshNeighborPairs(df, "id", "vec",
      nBits = 6, bands = 16, threshold = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute)
    // embedding dedup drops exactly the higher-id member of each pair
    val kept = Dedup.embeddingDedup(df, "id", "vec", threshold = 0.95)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == all.map(_._1).toSet -- brute.map(_._2))
  }

  test("dedup edge cases: zero-norm vectors survive; duplicated ids are not self-dups") {
    import spark.implicits._
    // an all-zero embedding yields NaN cosines — Spark's round() passes
    // NaN through (NaN >= t is false), and the in-bucket kernel must
    // do the same instead of crashing in BigDecimal
    val zdf = Seq(
      (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(1.0f, 0.5f, 0.2f, 0.1f)),
      (4L, Seq(1.0f, 0.5f, 0.2f, 0.1f))).toDF("id", "vec")
    val zkept = Dedup.embeddingDedup(zdf, "id", "vec", threshold = 0.9,
      nBits = 2, bands = 4).select("id").collect().map(_.getLong(0)).toSet
    assert(zkept == Set(1L, 2L, 3L)) // 4 is a true dup of 3; NaN pairs keep
    // a duplicated id (upstream union glitch) must never match itself:
    // the pair path's id_a < id_b excludes equal ids, so BOTH copies
    // survive — dedup is by id, not by multiplicity
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "completely different content about distributed query engines"))
      .toDF("doc_id", "text")
    val dkept = Dedup.minhashDedup(docs, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5, shingleSize = 4)
    assert(dkept.count() == 3)
    // a null id (upstream outer join) must not crash the anchor UDAF:
    // the row is excluded from candidates and survives to the output,
    // while true dups among non-null ids are still dropped
    val ndocs = Seq(
      (java.lang.Long.valueOf(20L), "the quick brown fox jumps over the lazy dog again and again"),
      (java.lang.Long.valueOf(21L), "the quick brown fox jumps over the lazy dog again and again"),
      (null.asInstanceOf[java.lang.Long], "completely different content about distributed query engines"))
      .toDF("doc_id", "text")
    val nkept = Dedup.minhashDedup(ndocs, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5, shingleSize = 4)
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSet
    assert(nkept == Set(20L, -1L)) // 21 deduped; the null-id row kept
  }

  test("embeddingDedup enforces bucket sizing with a clear error, not an OOM") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val df = (0 until 1000).map(i =>
      (i.toLong, Seq.fill(8)(rng.nextGaussian().toFloat))).toDF("id", "vec")
    // nBits=2 puts ~1000/4 = 250 rows per bucket: over a 10-row budget
    // the guard must refuse BEFORE the banding shuffle with a message
    // that names the smallest adequate nBits (2^7 = 128 >= 1000/10)
    val err = intercept[IllegalArgumentException] {
      Dedup.embeddingDedup(df, "id", "vec", threshold = 0.9,
        nBits = 2, bands = 4, bucketBudget = 10L)
    }
    assert(err.getMessage.contains("nBits >= 7"), err.getMessage)
    assert(err.getMessage.contains("bucketBudget=10"), err.getMessage)
    // the same call sized correctly (or with the guard waived) runs
    assert(Dedup.embeddingDedup(df, "id", "vec", threshold = 0.9,
      nBits = 7, bands = 4, bucketBudget = 10L).count() > 0)
    assert(Dedup.embeddingDedup(df, "id", "vec", threshold = 0.9,
      nBits = 2, bands = 4, bucketBudget = 0L).count() > 0)
  }

  test("embeddingDedup int8 pre-verify never moves the keep-set (ε-band adversarial)") {
    import spark.implicits._
    // r12: the in-bucket kernel now skips the exact dot for pairs
    // whose int8-bounded cosine ceiling sits provably below the
    // rounding line. This fixture attacks the proof two ways:
    // (a) roundDigits=2 widens the ε-band to ±0.005, so at dim 8 a
    //     large share of random-pair cosines land NEAR the 0.8
    //     threshold — every band pair must take the exact path and
    //     round bit-identically;
    // (b) engineered pairs sit EXACTLY on the HALF_UP boundary.
    // The oracle is a driver-side exact greedy (any lower-id partner
    // with round(cos,2) >= t drops you) over all pairs.
    val rng = new scala.util.Random(2024)
    val dim = 8
    val base = (0 until 300).map(i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian())))
    // boundary pairs: cos ~0.795 (the exact HALF_UP boundary) and
    // ~0.79499 (just under it) — each family in its OWN 2-plane so the
    // two families are mutually orthogonal and only the random corpus
    // can add extra partners (the oracle accounts for those)
    val mk = (c: Double, id: Long, plane: Int) => {
      val s = math.sqrt(1 - c * c)
      val u = Array.fill(dim)(0.0); u(plane) = 1.0
      val w = Array.fill(dim)(0.0); w(plane) = c; w(plane + 1) = s
      Seq((id, u), (id + 1, w))
    }
    val rows = base ++ mk(0.795, 9000L, 0) ++ mk(0.79499, 9100L, 2)
    val df = rows.map { case (id, v) => (id, v.map(_.toFloat).toSeq) }
      .toDF("id", "vec")
    def round2(d: Double) =
      if (d.isNaN) d else java.math.BigDecimal.valueOf(d)
        .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()
    def cosF(a: Array[Double], b: Array[Double]) = {
      // through FLOAT, like the DataFrame column — bit-parity matters
      // exactly at the HALF_UP boundary
      val af = a.map(_.toFloat.toDouble); val bf = b.map(_.toFloat.toDouble)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (d <- 0 until dim) {
        dot += af(d) * bf(d); na += af(d) * af(d); nb += bf(d) * bf(d)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expectDrop = rows.flatMap { case (id, v) =>
      rows.collect { case (lo, w) if lo < id && round2(cosF(w, v)) >= 0.8 => id }
        .headOption
    }.toSet
    val kept = Dedup.embeddingDedup(df, "id", "vec", threshold = 0.8,
        nBits = 4, bands = 32, roundDigits = 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet -- expectDrop == kept,
      s"keep-set moved: missing=${rows.map(_._1).toSet -- expectDrop -- kept} " +
        s"extra=${kept -- (rows.map(_._1).toSet -- expectDrop)}")
    // the fixture really exercised the ε-band (pairs the pre-verify
    // must route to the exact path) — otherwise this test could go
    // vacuous under a future fixture change
    val bandPairs = rows.flatMap { case (id, v) =>
      rows.collect { case (lo, w) if lo < id &&
        math.abs(cosF(w, v) - 0.8) <= 0.005 => 1 } }.sum
    info(s"pairs inside the rounding ε-band: $bandPairs")
    assert(bandPairs >= 2, s"only $bandPairs ε-band pairs — fixture too easy")
  }

  test("autoNBits sizing formula: constant bucket load, floor 4, ×16-stress geometry") {
    // nBits = max(4, ceil(log2(corpus / targetBucketRows))) — constant
    // mean bucket LOAD is what keeps in-bucket verify work linear in N
    // (bands·N·target instead of bands·N²/2^nBits with a pinned nBits;
    // the r9 ×16 stress sweep measured the pinned-4 cliff at 41.7×)
    assert(graft.ml.Dedup.autoNBits(0L, 125L) == 4)       // floor
    assert(graft.ml.Dedup.autoNBits(125L, 125L) == 4)     // 1 bucket → floor
    assert(graft.ml.Dedup.autoNBits(2000L, 125L) == 4)    // sf0.1: 16 buckets
    assert(graft.ml.Dedup.autoNBits(2001L, 125L) == 5)    // next power of 2
    assert(graft.ml.Dedup.autoNBits(32000L, 125L) == 8)   // ×16 stress: 256 buckets
    assert(graft.ml.Dedup.autoNBits(1L << 30, 125L) == 24) // 1B vectors: 2^24 buckets
    // defaulted call self-sizes and matches an explicitly-sized run
    import spark.implicits._
    // dim 32: at dim 8 random gaussians produce natural ≥0.95-cosine
    // pairs by chance (~1e-4 per pair × 45k pairs); at 32 the chance
    // mass is ~1e-16 so the planted twins are the only dups
    val rng = new scala.util.Random(31)
    val base = (0 until 300).map(i =>
      (i.toLong, Seq.fill(32)(rng.nextGaussian().toFloat)))
    val df = (base ++ base.take(20).map { case (i, v) => (i + 1000L, v) })
      .toDF("id", "vec")
    val auto = graft.ml.Dedup.embeddingDedup(df, "id", "vec", threshold = 0.95)
      .select("id").collect().map(_.getLong(0)).toSet
    val pinned = graft.ml.Dedup.embeddingDedup(df, "id", "vec", threshold = 0.95,
      nBits = 4).select("id").collect().map(_.getLong(0)).toSet
    assert(auto == pinned) // 320 rows / 125 target → auto picks exactly 4
    assert(auto.size == 300) // every planted twin (higher id) dropped
  }

  test("embeddingDedup integral-id path: null ids survive and never act as id 0") {
    import spark.implicits._
    // a null id must not read as 0 inside the bucket kernel: row 0L is a
    // genuine id whose vector matches the null row's — if the null
    // masqueraded as 0, 0 would 'dup' itself away or phantom-drop others
    val v = Seq(1.0f, 0.5f, 0.2f, 0.1f)
    val df = Seq(
      (java.lang.Long.valueOf(0L), v),
      (null.asInstanceOf[java.lang.Long], v),
      (java.lang.Long.valueOf(5L), Seq(-1.0f, 0.3f, 0.9f, -0.4f)))
      .toDF("id", "vec")
    val kept = Dedup.embeddingDedup(df, "id", "vec", threshold = 0.9,
      nBits = 2, bands = 4)
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSet
    // null row kept (not a candidate), id 0 kept (lowest), id 5 kept
    // (dissimilar) — nothing dropped
    assert(kept == Set(-1L, 0L, 5L))
  }

  test("distributed CC: plan depth stays bounded across rounds (lineage checkpointed)") {
    import spark.implicits._
    def treeDepth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      if (p.children.isEmpty) 1 else 1 + p.children.map(treeDepth).max
    // path graphs: every round's logical plan nests the previous
    // round's, so WITHOUT the periodic localCheckpoint the final plan
    // depth would grow with the number of rounds (≈ log diameter).
    // With it, depth is bounded by CheckpointEvery rounds' worth of
    // operators no matter the diameter.
    def ccDepth(n: Int): (Int, Int) = {
      val pairs = (0L until n.toLong).sliding(2).map(w => (w(0), w(1))).toSeq
        .toDF("id_a", "id_b")
      val labels = Dedup.connectedComponents(pairs, localEdgeLimit = 0L)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == (0L until n.toLong).map(_ -> 0L).toMap,
        s"chain of $n mislabeled")
      (treeDepth(labels.queryExecution.analyzed), Dedup.lastCCStats._1)
    }
    val (dSmall, rSmall) = ccDepth(8)
    val (dBig, rBig) = ccDepth(120)
    assert(rBig > rSmall, s"expected more rounds on the long chain ($rSmall vs $rBig)")
    // bound chosen as: one round's join stack (~17 nodes) × CheckpointEvery
    // plus the checkpointed scan — generous, but strict enough that an
    // O(rounds) plan (85+ nodes deep by round 5) must fail it
    assert(dBig <= 80, s"plan depth $dBig after $rBig rounds — lineage not truncated?")
  }

  test("distributed CC: big-graph persist path labels equal the fused path") {
    import spark.implicits._
    // two chains + a star; persistSteppedEdges = 0 forces the per-round
    // stepped persist that a >2M-edge graph would take at 100 TB
    val pairs = ((0L until 30L).sliding(2).map(w => (w(0), w(1))) ++
      Iterator((100L, 103L), (101L, 103L), (102L, 103L))).toSeq
      .toDF("id_a", "id_b")
    def labelsOf(persistAt: Long) =
      Dedup.connectedComponents(pairs, localEdgeLimit = 0L,
          persistSteppedEdges = persistAt)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = spark.sparkContext.getPersistentRDDs.size
    val persisted = labelsOf(0L)
    val fused = labelsOf(Long.MaxValue)
    assert(persisted == fused, "persist path diverged from fused path")
    assert(persisted.values.toSet == Set(0L, 100L))
    // the loop must release its per-round caches. What MAY survive the
    // two calls: the two returned label frames (the API result is
    // cached) and localCheckpoint RDDs (reaped by ContextCleaner on
    // GC, not unpersist) — the persist path truncates lineage EVERY
    // round (see distributedCC), so its checkpoint count scales with
    // rounds — but never the per-round stepped/labels CACHES, which
    // is what this asserts: bound = one checkpoint per persisted
    // round + fused-path checkpoints + the two returned frames
    val rounds = Dedup.lastCCStats._1
    val leaked = spark.sparkContext.getPersistentRDDs.size - before
    assert(leaked <= 2 * rounds + 4,
      s"$leaked new RDDs still persisted after 2 CC calls ($rounds rounds)")
  }

  test("connectedComponents string ids: local labels equal distributed labels") {
    import spark.implicits._
    // U+FFFD sorts BELOW a supplementary-plane char in UTF-8 byte order
    // but ABOVE it in Java UTF-16 compareTo — the local union-find must
    // follow Spark's binary order so both tiers pick the same label
    val hi = new String(Character.toChars(0x1F600)) // UTF-8 F0 9F 98 80
    val lo = "�"                               // UTF-8 EF BF BD
    assert(lo.compareTo(hi) > 0) // UTF-16 disagrees with UTF-8 here
    val pairs = Seq((hi, lo)).toDF("id_a", "id_b")
    def labelsOf(limit: Long) =
      Dedup.connectedComponents(pairs, localEdgeLimit = limit)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val local = labelsOf(1000L)
    val dist = labelsOf(0L)
    assert(local == dist, s"local=$local dist=$dist")
    assert(local.values.toSet == Set(lo)) // UTF-8 byte-order minimum
  }

  test("cosine kernel is correct") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)), (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)))
      .toDF("a", "b")
    val sims = df.select(round(Similarity.cosine(col("a"), col("b")), 6)).collect()
      .map(_.getDouble(0))
    assert(sims(0) == 0.0 && sims(1) == 1.0)
  }

  test("brute-force top-k returns k neighbors ranked by similarity") {
    import spark.implicits._
    val corpus = (0 until 20).map(i =>
      (i.toLong, Seq(math.cos(i * 0.3).toFloat, math.sin(i * 0.3).toFloat)))
      .toDF("id", "vec")
    val queries = corpus.filter(col("id") === 0)
    val res = Similarity.bruteForceTopK(corpus, "id", "vec", queries, "id", "vec", k = 3)
    val rows = res.orderBy("rank").collect()
    assert(rows.length == 3)
    // on the 0.3-rad circle the nearest to angle 0 are 1 (0.3), 19
    // (5.7 ≡ −0.58) and 2 (0.6), in that cosine order
    assert(rows.map(_.getAs[Long]("nn_id")).toSeq == Seq(1L, 19L, 2L))
  }

  test("IVF top-k finds mostly the same neighbors as brute force") {
    import spark.implicits._
    val corpus = (0 until 100).map(i =>
      (i.toLong, Seq(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat, (i % 7).toFloat / 7)))
      .toDF("id", "vec")
    val queries = corpus.filter(col("id") < 3)
    val bf = Similarity.bruteForceTopK(corpus, "id", "vec", queries, "id", "vec", k = 5)
      .select("query_id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(corpus, "id", "vec", queries, "id", "vec",
      k = 5, nLists = 8, nProbe = 4)
      .select("query_id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.intersect(bf).size >= 8) // decent recall on 15 pairs
  }

  test("kmeans++ IVF seeding on an adversarially id-ordered corpus (recall@10)") {
    import spark.implicits._
    import graft.ml.Similarity
    // 8 well-separated direction clusters, ids arranged ADVERSARIALLY:
    // the 50 lowest ids all sit in cluster 0, so a first-n-by-id seed
    // would start every centroid inside one cluster and Lloyd refine
    // could not spread them back out — the failure mode the k-means||
    // init exists to avoid
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val pts = for (c <- 0 until 8; j <- 0 until 50) yield
      ((c * 50 + j).toLong,
        centers(c).map(x => (x + 0.15 * rnd.nextGaussian()).toFloat).toSeq)
    val corpus = pts.toDF("id", "vec")
    // queries weighted toward cluster 0 — the cluster a first-n-by-id
    // seed would SPLIT across most of its lists (its neighbors then
    // straddle unprobed lists at nProbe=1, which is what kills recall)
    val queries = corpus.filter(col("id") % 50 === 25 || col("id").isin(5L, 15L, 35L, 45L))
    val bf = Similarity.bruteForceTopK(corpus, "id", "vec",
        queries, "id", "vec", k = 10)
      .select("query_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = Similarity.ivfTopK(corpus, "id", "vec", queries, "id", "vec",
        k = 10, nLists = 8, nProbe = 1, refineIters = 1)
      .select("query_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pp = hits.intersect(bf).size.toDouble / bf.size
    val maxListShare = Similarity.assignLists(corpus, "id", "vec",
        Similarity.centroids(corpus, "id", "vec", 8, 1))
      .groupBy("list_id").count().collect().map(_.getLong(1)).max / 400.0
    info(s"recall@10 nProbe=1: $pp; max list share: $maxListShare")
    assert(pp >= 0.9, s"kmeans++ recall@10 only $pp at nProbe=1/8")
    // the 100-TB property: balanced lists mean a probe reads
    // ~nProbe/nLists of the index BYTES — a degenerate giant list
    // would make every probe scan most of the corpus
    assert(maxListShare <= 0.2,
      "kmeans++ lists unbalanced — probe cost no longer ~nProbe/nLists")
    // determinism: the seeded init gives the same centroid set twice
    val c1 = Similarity.centroids(corpus, "id", "vec", 8, 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val c2 = Similarity.centroids(corpus, "id", "vec", 8, 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(c1 == c2, "seeded kmeans++ centroids differ across runs")
  }

  // --- multimodal plumbing ---

  test("q_multimodal leaves no lingering cache entry (self-contained for any caller)") {
    // the query materializes its synthetic payloads via an eager
    // localCheckpoint, NOT a persist: a persist could never be paired
    // with an unpersist (the caller executes the frame after the
    // builder returns), so it would silently occupy the cache registry
    // for the rest of the session
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q_multimodal")(spark, "/root/testdata/sf0.001")
    assert(df.count() == 200)
    assert(spark.sharedState.cacheManager.isEmpty,
      "q_multimodal left an entry in the cache registry")
  }

  test("multimodal feature extraction preserves schema and determinism") {
    val media = Multimodal.syntheticMedia(spark, 10)
    val feats = Multimodal.extractFeatures(media, dim = 4)
    assert(feats.schema.fieldNames.toSeq ==
      Seq("media_id", "kind", "n_bytes", "feature"))
    val rows = feats.orderBy("media_id").collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Seq[Float]]("feature").length == 4))
    // deterministic: run twice, same features
    val again = Multimodal.extractFeatures(media, dim = 4).orderBy("media_id").collect()
    assert(rows.zip(again).forall { case (a, b) =>
      a.getAs[Seq[Float]]("feature") == b.getAs[Seq[Float]]("feature") })
  }

  test("BMP pixel decode is real: known pixels give exact quadrant means") {
    // 2x2 uncompressed 24-bit BMP, one pure channel per quadrant pixel:
    // bottom-up rows, BGR order, rows padded to 4 bytes (2*3 -> 8)
    val buf = java.nio.ByteBuffer.allocate(54 + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + 16).putInt(0).putInt(54)
    buf.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24)
      .putInt(0).putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
    // bottom row first: (x=0,y=1)=blue(255,0,0 BGR), (x=1,y=1)=green
    buf.put(255.toByte).put(0.toByte).put(0.toByte)
    buf.put(0.toByte).put(255.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    // top row: (x=0,y=0)=red(0,0,255 BGR), (x=1,y=0)=white
    buf.put(0.toByte).put(0.toByte).put(255.toByte)
    buf.put(255.toByte).put(255.toByte).put(255.toByte).put(0.toByte).put(0.toByte)
    val bmp = buf.array()
    val (w, h, px) = Multimodal.decodeBmp(bmp)
    assert(w == 2 && h == 2)
    // top-down row-major after decode: (0,0) red -> BGR (0,0,255)
    assert((px(0) & 0xff, px(1) & 0xff, px(2) & 0xff) == (0, 0, 255))
    // quadrant means (2x2 image => one pixel per quadrant, exact)
    val f = Multimodal.bmpQuadrantMeans(w, h, px, 12)
    assert(f.toSeq == Seq(0f, 0f, 1f, /* red */ 1f, 1f, 1f, /* white */
      1f, 0f, 0f, /* blue */ 0f, 1f, 0f /* green */))
    // non-BMP bytes refuse to decode
    assert(Multimodal.decodeBmp("not a bitmap at all".getBytes) == null)
    // crafted header whose width*3 overflows Int must return null, not throw
    val evilBmp = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evilBmp.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
    evilBmp.putInt(40).putInt(715827883).putInt(2).putShort(1).putShort(24)
      .putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
    assert(Multimodal.decodeBmp(evilBmp.array()) == null)
    // end-to-end: synthetic BMP rows get real (quadrant-mean) features
    val feats = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 12), dim = 12)
      .collect()
    val bmpRows = feats.filter(r => r.getLong(0) % 6 == 0) // image && even id
    assert(bmpRows.nonEmpty)
    assert(bmpRows.forall(_.getAs[Seq[Float]]("feature").forall(v => v >= 0f && v <= 1f)))
  }

  test("JPEG baseline decode is real: within tolerance of ImageIO's decoder") {
    import graft.multimodal.{Jpeg, Multimodal}
    def encode(img: java.awt.image.BufferedImage, quality: Float): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      writer.dispose(); ios.close()
      bos.toByteArray
    }
    // color: smooth gradients (chroma is 4:2:0 subsampled — replication
    // vs ImageIO's fancy upsampling differs most on sharp chroma edges,
    // so the tolerance is checked on smooth content)
    val w = 37; val h = 29 // non-multiple-of-MCU dims exercise edge blocks
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val r = x * 255 / (w - 1); val g = y * 255 / (h - 1)
      val b = (x + y) * 255 / (w + h - 2)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    for (q <- Seq(0.7f, 0.95f)) {
      val bytes = encode(img, q)
      val dec = Jpeg.decode(bytes)
      assert(dec != null, s"decode failed at q=$q")
      val (dw, dh, px) = dec
      assert(dw == w && dh == h)
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      var maxDiff = 0; var sumDiff = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = ref.getRGB(x, y)
        val o = (y * w + x) * 3
        val db = math.abs((px(o) & 0xff) - (rgb & 0xff))
        val dg = math.abs((px(o + 1) & 0xff) - ((rgb >> 8) & 0xff))
        val dr = math.abs((px(o + 2) & 0xff) - ((rgb >> 16) & 0xff))
        maxDiff = math.max(maxDiff, math.max(db, math.max(dg, dr)))
        sumDiff += db + dg + dr
      }
      val meanDiff = sumDiff.toDouble / (w * h * 3)
      // both decoders are conformant; differences = IDCT rounding +
      // chroma upsampling choice
      assert(maxDiff <= 16 && meanDiff <= 2.0,
        s"q=$q maxDiff=$maxDiff meanDiff=$meanDiff")
    }
    // grayscale: single component, no chroma upsampling — only IDCT
    // rounding differs (ImageIO uses a fast integer IDCT, ours the
    // exact definition)
    val gimg = new java.awt.image.BufferedImage(24, 17,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 17; x <- 0 until 24) {
      val v = (math.sin(x * 0.4) * 60 + math.cos(y * 0.6) * 50 + 128).toInt.max(0).min(255)
      gimg.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val gbytes = encode(gimg, 0.9f)
    val gdec = Jpeg.decode(gbytes)
    assert(gdec != null)
    val (gw, gh, gpx) = gdec
    assert(gw == 24 && gh == 17)
    // T.81 A.2.3: a single-component scan is non-interleaved, so the
    // declared sampling factors must NOT change the block layout —
    // patch the SOF sampling byte from 1x1 to 2x2 (entropy data
    // untouched) and require bit-identical output
    val patched = gbytes.clone()
    var sofAt = -1
    var pi = 2
    while (sofAt < 0 && pi + 4 < patched.length) {
      if ((patched(pi) & 0xff) == 0xff && (patched(pi + 1) & 0xff) == 0xc0) sofAt = pi
      else pi += 1
    }
    assert(sofAt > 0)
    assert((patched(sofAt + 11) & 0xff) == 0x11) // gray SOF: H=V=1
    patched(sofAt + 11) = 0x22.toByte
    val pdec = Jpeg.decode(patched)
    assert(pdec != null && pdec._3.sameElements(gpx),
      "2x2-factor grayscale must decode identically to 1x1")
    val gref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gbytes))
    val graster = gref.getRaster
    var gmax = 0
    for (y <- 0 until gh; x <- 0 until gw)
      gmax = math.max(gmax,
        math.abs((gpx((y * gw + x) * 3) & 0xff) - graster.getSample(x, y, 0)))
    assert(gmax <= 3, s"gray maxDiff=$gmax")
    // refusals: non-JPEG bytes return null
    assert(Jpeg.decode("definitely not a jpeg".getBytes) == null)
    assert(Jpeg.decode(null) == null)
    // end-to-end: synthetic JPEG rows flow through extractFeatures with
    // real (quadrant-mean) features in [0,1]
    val feats = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 30), dim = 8)
      .collect().filter(r => r.getLong(0) % 12 == 3)
    assert(feats.nonEmpty)
    assert(feats.forall(_.getAs[Seq[Float]]("feature").forall(v => v >= 0f && v <= 1f)))
  }

  test("JPEG progressive decode is real: multi-scan SOF2 vs ImageIO") {
    import graft.multimodal.Jpeg
    def encodeProg(img: java.awt.image.BufferedImage, quality: Float): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      writer.dispose(); ios.close()
      bos.toByteArray
    }
    def isSof2(b: Array[Byte]): Boolean =
      b.sliding(2).exists(p => (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xc2)
    // smooth color content, non-MCU-multiple dims (edge blocks +
    // 4:2:0 interleaved DC scan + per-component AC scans + refinements)
    val w = 37; val h = 29
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val r = x * 255 / (w - 1); val g = y * 255 / (h - 1)
      val b = (x + y) * 255 / (w + h - 2)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    for (q <- Seq(0.7f, 0.95f)) {
      val bytes = encodeProg(img, q)
      assert(isSof2(bytes), "encoder did not produce a progressive stream")
      val dec = Jpeg.decode(bytes)
      assert(dec != null, s"progressive decode failed at q=$q")
      val (dw, dh, px) = dec
      assert(dw == w && dh == h)
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      var maxDiff = 0; var sumDiff = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = ref.getRGB(x, y)
        val o = (y * w + x) * 3
        val db = math.abs((px(o) & 0xff) - (rgb & 0xff))
        val dg = math.abs((px(o + 1) & 0xff) - ((rgb >> 8) & 0xff))
        val dr = math.abs((px(o + 2) & 0xff) - ((rgb >> 16) & 0xff))
        maxDiff = math.max(maxDiff, math.max(db, math.max(dg, dr)))
        sumDiff += db + dg + dr
      }
      val meanDiff = sumDiff.toDouble / (w * h * 3)
      assert(maxDiff <= 16 && meanDiff <= 2.0,
        s"q=$q maxDiff=$maxDiff meanDiff=$meanDiff")
    }
    // grayscale progressive: single component, every scan non-interleaved
    val gw = 24; val gh = 17
    val gimg = new java.awt.image.BufferedImage(gw, gh,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until gh; x <- 0 until gw) {
      val v = (math.sin(x * 0.4) * 60 + math.cos(y * 0.6) * 50 + 128).toInt.max(0).min(255)
      gimg.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val gbytes = encodeProg(gimg, 0.9f)
    assert(isSof2(gbytes))
    val gdec = Jpeg.decode(gbytes)
    assert(gdec != null)
    val gref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gbytes))
    val graster = gref.getRaster
    var gmax = 0
    for (y <- 0 until gh; x <- 0 until gw)
      gmax = math.max(gmax,
        math.abs((gdec._3((y * gw + x) * 3) & 0xff) - graster.getSample(x, y, 0)))
    assert(gmax <= 3, s"gray maxDiff=$gmax")
    // truncation mid-scan refuses (no EOI, no reconstruction)
    val cut = encodeProg(img, 0.9f)
    assert(Jpeg.decode(cut.take(cut.length / 2)) == null)
    // property sweep: random-noise GRAYSCALE images (no chroma, so the
    // only legitimate divergence from ImageIO is IDCT rounding) across
    // odd sizes and qualities — pins the multi-scan machinery (EOB
    // runs, refinement bits, edge blocks) far beyond one golden image
    val rng = new scala.util.Random(13L)
    for (trial <- 0 until 8) {
      val tw = 8 + rng.nextInt(49)
      val th = 8 + rng.nextInt(41)
      val timg = new java.awt.image.BufferedImage(tw, th,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until th; x <- 0 until tw) {
        val v = rng.nextInt(256)
        timg.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val tq = 0.5f + 0.1f * (trial % 5)
      val tb = encodeProg(timg, tq)
      assert(isSof2(tb), s"trial $trial not progressive")
      val tdec = Jpeg.decode(tb)
      assert(tdec != null, s"trial $trial ($tw x $th q=$tq) failed")
      assert(tdec._1 == tw && tdec._2 == th)
      val tref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(tb))
      val traster = tref.getRaster
      var tmax = 0
      for (y <- 0 until th; x <- 0 until tw)
        tmax = math.max(tmax, math.abs(
          (tdec._3((y * tw + x) * 3) & 0xff) - traster.getSample(x, y, 0)))
      assert(tmax <= 4, s"trial $trial ($tw x $th q=$tq) maxDiff=$tmax")
    }
  }

  test("PNG pixel decode is real: pixel-exact vs a JDK-ImageIO golden") {
    // golden: the JDK's own PNG encoder (independent implementation,
    // uses real filters) — our pure-JVM decoder must reproduce every
    // pixel byte-exactly
    val w = 5; val h = 4
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 50) << 16) | ((y * 60) << 8) | (x * y * 20))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (dw, dh, px) = Multimodal.decodePng(bos.toByteArray)
    assert(dw == w && dh == h)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      val p = (y * w + x) * 3
      assert((px(p) & 0xff) == (rgb & 0xff), s"B at ($x,$y)")
      assert((px(p + 1) & 0xff) == ((rgb >> 8) & 0xff), s"G at ($x,$y)")
      assert((px(p + 2) & 0xff) == ((rgb >> 16) & 0xff), s"R at ($x,$y)")
    }
    // the synthetic frame's PNGs are complete spec files that
    // round-trip through BOTH decoders identically
    val syn = Multimodal.pngBytes(7, 5, 42L)
    val (sw, sh, spx) = Multimodal.decodePng(syn)
    assert(sw == 7 && sh == 5)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(syn))
    for (y <- 0 until sh; x <- 0 until sw) {
      val rgb = ref.getRGB(x, y)
      val p = (y * sw + x) * 3
      assert((spx(p) & 0xff) == (rgb & 0xff) &&
        (spx(p + 2) & 0xff) == ((rgb >> 16) & 0xff))
    }
    // unsupported / corrupt inputs refuse to decode, never throw
    assert(Multimodal.decodePng("not a png at all".getBytes) == null)
    assert(Multimodal.decodePng(syn.dropRight(20)) == null) // truncated
    // end-to-end: synthetic PNG rows (image && odd id) now take the
    // real quadrant-mean path
    val feats = Multimodal.extractFeatures(
      Multimodal.syntheticMedia(spark, 12), dim = 12).collect()
    val pngRows = feats.filter(r => r.getLong(0) % 6 == 3)
    assert(pngRows.nonEmpty)
    assert(pngRows.forall(_.getAs[Seq[Float]]("feature")
      .forall(v => v >= 0f && v <= 1f)))
  }

  test("PNG decode round-trips random gray/RGB/RGBA images of odd sizes") {
    // seeded random content across sizes and color types: ImageIO's
    // encoder picks per-scanline filters adaptively, so this sweeps
    // Sub/Up/Average/Paeth paths the single hand-built golden may not
    val rng = new scala.util.Random(1234)
    val types = Seq(
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY, // PNG color type 0
      java.awt.image.BufferedImage.TYPE_INT_RGB,   // color type 2
      java.awt.image.BufferedImage.TYPE_INT_ARGB)  // color type 6
    for (t <- types; (w, h) <- Seq((1, 1), (3, 7), (16, 16), (33, 9))) {
      val img = new java.awt.image.BufferedImage(w, h, t)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (0xff << 24) | rng.nextInt(1 << 24))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      val decoded = Multimodal.decodePng(bos.toByteArray)
      assert(decoded != null, s"type=$t ${w}x$h did not decode")
      val (dw, dh, px) = decoded
      assert(dw == w && dh == h, s"type=$t ${w}x$h dims")
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        if (t == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) {
          // the PNG stores the RASTER byte; getRGB would apply AWT's
          // linear-gray→sRGB colorspace transform and not match
          val g = img.getRaster.getSample(x, y, 0)
          assert((px(p) & 0xff) == g && (px(p + 1) & 0xff) == g &&
            (px(p + 2) & 0xff) == g, s"gray ${w}x$h pixel ($x,$y)")
        } else {
          val rgb = img.getRGB(x, y)
          assert((px(p) & 0xff) == (rgb & 0xff) &&
            (px(p + 1) & 0xff) == ((rgb >> 8) & 0xff) &&
            (px(p + 2) & 0xff) == ((rgb >> 16) & 0xff),
            s"type=$t ${w}x$h pixel ($x,$y)")
        }
      }
    }
  }

  test("GIF pixel decode is real: LZW + interlacing, pixel-exact vs ImageIO") {
    // golden: the JDK's GIF encoder over an 8-color indexed image (an
    // exact palette — no quantization), interlaced and not; our
    // hand-rolled LZW + 4-pass de-interlace must reproduce every pixel
    val palette = Array(0xFF0000, 0x00FF00, 0x0000FF, 0xFFFFFF,
      0x000000, 0x808080, 0xFFA500, 0x123456)
    val icm = new java.awt.image.IndexColorModel(3, 8,
      palette.map(_ | 0xFF000000), 0, false, -1,
      java.awt.image.DataBuffer.TYPE_BYTE)
    val rng = new scala.util.Random(77)
    for (interlaced <- Seq(false, true); (w, h) <- Seq((7, 5), (16, 16), (33, 9))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, 0xFF000000 | palette(rng.nextInt(palette.length)))
      val bos = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(
        if (interlaced) javax.imageio.ImageWriteParam.MODE_DEFAULT
        else javax.imageio.ImageWriteParam.MODE_DISABLED)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      writer.dispose(); ios.close()
      val decoded = Multimodal.decodeGif(bos.toByteArray)
      assert(decoded != null, s"interlaced=$interlaced ${w}x$h did not decode")
      val (dw, dh, px) = decoded
      assert(dw == w && dh == h, s"interlaced=$interlaced ${w}x$h dims")
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val p = (y * w + x) * 3
        assert((px(p) & 0xff) == (rgb & 0xff) &&
          (px(p + 1) & 0xff) == ((rgb >> 8) & 0xff) &&
          (px(p + 2) & 0xff) == ((rgb >> 16) & 0xff),
          s"interlaced=$interlaced ${w}x$h pixel ($x,$y)")
      }
    }
    // corrupt / truncated inputs refuse to decode, never throw or spin
    assert(Multimodal.decodeGif("GIF89a then total garbage".getBytes) == null)
    assert(Multimodal.decodeGif("not a gif".getBytes) == null)
  }

  test("WAV PCM decode is real: exact RMS and zero-crossing features") {
    // 16 samples alternating ±16384 (mono 16-bit PCM): every quarter
    // has RMS = 16384/32768 = 0.5 exactly and 3 sign flips in 4
    // samples → zcr 0.75 exactly
    val n = 16
    val wav = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wav.put("RIFF".getBytes).putInt(36 + n * 2).put("WAVE".getBytes)
    wav.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(16000).putInt(32000).putShort(2).putShort(16)
    wav.put("data".getBytes).putInt(n * 2)
    for (j <- 0 until n) wav.putShort(if (j % 2 == 0) 16384 else -16384)
    val (rate, samples) = Multimodal.decodeWavPcm16(wav.array())
    assert(rate == 16000 && samples.length == n)
    val f = Multimodal.wavQuarterFeatures(samples, 10)
    assert(f.toSeq == Seq(0.5f, 0.75f, 0.5f, 0.75f, 0.5f, 0.75f, 0.5f, 0.75f, 0f, 0f))
    // truncated data chunk decodes what is present, never overruns
    val clipped = java.util.Arrays.copyOf(wav.array(), 44 + 6)
    assert(Multimodal.decodeWavPcm16(clipped)._2.length == 3)
    // non-PCM (compressed) and non-WAV bytes refuse to decode
    val alaw = wav.array().clone(); alaw(20) = 6 // audioFormat = A-law
    assert(Multimodal.decodeWavPcm16(alaw) == null)
    assert(Multimodal.decodeWavPcm16("not audio at all".getBytes) == null)
    // stereo refuses (interleaved channels would corrupt the
    // zero-crossing feature), sniffing still reports the container
    val stereo = wav.array().clone(); stereo(22) = 2
    assert(Multimodal.decodeWavPcm16(stereo) == null)
    assert(Multimodal.sniffMeta(stereo)._1 == "audio/wav")
    // a short fmt chunk (declared sz 4) must not read the next chunk's
    // bytes as format fields
    val shortFmt = wav.array().clone(); shortFmt(16) = 4
    assert(Multimodal.decodeWavPcm16(shortFmt) == null)
    // end-to-end: synthetic audio rows take the real sample path —
    // square-wave RMS is amp/32768, equal in all four quarters
    // EXACTLY for PCM rows; ADPCM rows (id % 6 == 4) are lossy, so
    // their quarters agree only approximately
    val feats = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 12), dim = 8)
      .collect().filter(_.getString(1) == "audio")
      .filterNot(r => r.getLong(0) % 9 == 7 && r.getLong(0) % 6 != 4) // MP3 rows: stub path
    val (adpcm, pcm) = feats.partition(_.getLong(0) % 6 == 4)
    assert(pcm.nonEmpty && adpcm.nonEmpty)
    assert(pcm.forall { r =>
      val f = r.getAs[scala.collection.Seq[Float]]("feature")
      f(0) > 0f && f(0) == f(2) && f(0) == f(4) && f(0) == f(6)
    })
    assert(adpcm.forall { r =>
      val f = r.getAs[scala.collection.Seq[Float]]("feature")
      f(0) > 0f && Seq(f(2), f(4), f(6)).forall(v => math.abs(v - f(0)) < 0.05f)
    })
  }

  test("sniffMetadata parses real PNG/JPEG/GIF/WAV container headers") {
    // hand-built headers — the sniffer does real byte-level parsing
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 1, 0x40, /* w=320 */ 0, 0, 0, 0xF0, /* h=240 */
      8, 6, 0, 0, 0, 0, 0, 0, 0).map(_.toByte)
    assert(Multimodal.sniffMeta(png) == ("image/png", 320, 240, null))
    val jpeg = Array[Int](0xFF, 0xD8, // SOI
      0xFF, 0xE0, 0, 4, 0, 0, // APP0, length 4
      0xFF, 0xC0, 0, 17, 8, 0, 100, 0, 200, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0
    ).map(_.toByte)
    assert(Multimodal.sniffMeta(jpeg) == ("image/jpeg", 200, 100, null))
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x20, 0x01, 0xC8, 0x00, 0, 0).map(_.toByte)) // 288 x 200
    assert(Multimodal.sniffMeta(gif) == ("image/gif", 288, 200, null))
    // WAV: 16 kHz mono 16-bit, 32000 data bytes → 1000 ms
    val wav = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wav.put("RIFF".getBytes).putInt(36 + 32000).put("WAVE".getBytes)
    wav.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(16000).putInt(32000).putShort(2).putShort(16)
    wav.put("data".getBytes).putInt(32000)
    assert(Multimodal.sniffMeta(wav.array()) == ("audio/wav", null, null, 1000L))
    // unknown bytes sniff to nulls, not errors
    assert(Multimodal.sniffMeta(Array.fill[Byte](32)(7)) == (null, null, null, null))
    // corrupt WAV with a >=2^31 chunk size must terminate, not spin
    val evil = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evil.put("RIFF".getBytes).putInt(56).put("WAVE".getBytes)
    evil.put("junk".getBytes).putInt(0xFFFFFFF8) // unsigned 4294967288
    assert(Multimodal.sniffMeta(evil.array()) == ("audio/wav", null, null, null))
    // JPEG with a spec-legal 0xFF fill byte before the SOF marker
    val padded = Array[Int](0xFF, 0xD8, 0xFF, 0xFF,
      0xFF, 0xC0, 0, 17, 8, 0, 50, 0, 60, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0
    ).map(_.toByte)
    assert(Multimodal.sniffMeta(padded) == ("image/jpeg", 60, 50, null))
    // end-to-end over the synthetic frame: every image row gets real
    // dims, every audio row a real duration, MP4 video rows real
    // geometry + duration; only the deliberate opaque sub-cycle
    // (id % 9 == 8) sniffs to nulls
    val sniffed = Multimodal.sniffMetadata(Multimodal.syntheticMedia(spark, 30))
      .collect()
    assert(sniffed.filter(_.getString(1) == "image")
      .forall(r => Set("image/png", "image/bmp", "image/jpeg").contains(r.getString(3)) &&
        r.getInt(4) >= 8))
    assert(sniffed.filter(_.getString(1) == "audio")
      .forall(r => Set("audio/wav", "audio/mpeg").contains(r.getString(3)) &&
        r.getLong(6) > 0))
    // the MP3 sub-cycle (id % 6 == 1 among audio rows) actually occurs
    assert(sniffed.exists(r => r.getString(3) == "audio/mpeg"))
    val (opaque, mp4s) = sniffed.filter(_.getString(1) == "video")
      .partition(r => r.getLong(0) % 9 == 8)
    assert(opaque.nonEmpty && opaque.forall(_.isNullAt(3)))
    assert(mp4s.nonEmpty && mp4s.forall(r => r.getString(3) == "video/mp4" &&
      r.getInt(4) >= 320 && r.getInt(5) >= 240 && r.getLong(6) >= 1000L))
  }

  test("decoders and sniffers never throw on random or corrupted bytes") {
    import graft.multimodal.{Jpeg, Multimodal}
    // the refuse-with-null contract, adversarially: every decoder and
    // sniffer must survive (a) pure noise, (b) bit-flipped real
    // payloads (valid magics, corrupt internals), (c) truncations —
    // a poisoned blob in a 100 TB corpus must never kill a task
    def exercise(b: Array[Byte]): Unit = {
      Multimodal.sniffMeta(b)
      Multimodal.decodeBmp(b); Multimodal.decodePng(b); Multimodal.decodeGif(b)
      Jpeg.decode(b); Multimodal.decodeWavSamples(b); Multimodal.decodeWavAdpcm(b)
    }
    val rnd = new scala.util.Random(20260812L)
    for (_ <- 0 until 300) {
      val b = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(b)
      exercise(b)
    }
    val payloads = Multimodal.syntheticMedia(spark, 40).collect()
      .map(_.getAs[Array[Byte]]("content"))
    for (p <- payloads) {
      for (_ <- 0 until 25) {
        val c = p.clone()
        for (_ <- 0 to rnd.nextInt(8)) {
          val i = rnd.nextInt(c.length)
          c(i) = (c(i) ^ (1 << rnd.nextInt(8))).toByte
        }
        exercise(c)
      }
      for (_ <- 0 until 10)
        exercise(java.util.Arrays.copyOf(p, rnd.nextInt(p.length + 1)))
    }
  }

  test("image perceptual dHash: format-independent, resample-tolerant, blockable") {
    import graft.multimodal.Multimodal
    def dist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // the same PIXELS in different containers hash IDENTICALLY: decode
    // a BMP and re-wrap its buffer as a PNG
    val bmp = Multimodal.bmpBytes(24, 18, 7L)
    val (bw, bh, bpx) = Multimodal.decodeBmp(bmp)
    val png = Multimodal.pngFromBgr(bw, bh, bpx)
    val hBmp = Multimodal.dHash64(bmp)
    assert(hBmp != null && hBmp == Multimodal.dHash64(png))
    // a smooth gradient survives downsampling (gradient SIGNS are the
    // hash) while a different gradient is far away
    def gradPng(w: Int, h: Int, flip: Boolean): Array[Byte] = {
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val v = (x * 2 + y) * 255 / (2 * w + h)
        px((y * w + x) * 3 + c) = (if (flip) 255 - v else v).toByte
      }
      Multimodal.pngFromBgr(w, h, px)
    }
    val big = gradPng(64, 48, flip = false)
    val (gw, gh, gpx) = Multimodal.decodePng(big)
    val halfPng = Multimodal.pngFromBgr(32, 24,
      Multimodal.bilinearResizeBgr(gw, gh, gpx, 32, 24))
    val dNear = dist(Multimodal.dHash64(big), Multimodal.dHash64(halfPng))
    val dFar = dist(Multimodal.dHash64(big), Multimodal.dHash64(gradPng(64, 48, flip = true)))
    assert(dNear <= 6, s"resampled distance $dNear")
    assert(dFar >= 20, s"flipped-gradient distance $dFar")
    // undecodable bytes hash to null and never pair
    assert(Multimodal.dHash64("not an image".getBytes) == null)
    assert(Multimodal.dHash64(null) == null)
    // e2e: withPerceptualHash + hammingPairs finds exactly the planted
    // cross-container duplicate (and nulls stay unpaired)
    import spark.implicits._
    val frame = Seq(
      (1L, bmp), (2L, png), (3L, big), (4L, "junk".getBytes))
      .toDF("media_id", "content")
    val hashed = Multimodal.withPerceptualHash(frame)
    assert(hashed.filter(col("media_id") === 4L).select("phash").collect()(0).isNullAt(0))
    val pairs = graft.ml.Dedup.hammingPairs(hashed, "media_id", "phash", maxDist = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
  }

  test("readMediaDir ingests a file tree with sniffed metadata and stable ids") {
    import graft.multimodal.{Adpcm, Mp4, Multimodal}
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toFile
    try {
      def write(name: String, bytes: Array[Byte]): Unit = {
        val f = new java.io.File(dir, name)
        java.nio.file.Files.write(f.toPath, bytes)
      }
      // one real file per family, via the same writers the decoders pin
      write("a.png", Multimodal.pngFromBgr(6, 4, new Array[Byte](6 * 4 * 3)))
      write("b.wav", Adpcm.encodeWavIma(8000, new Array[Short](4000))._1)
      write("c.mp4", Mp4.mp4Bytes(320, 240, 2500L, 3L))
      write("d.txt", "just some text, not media".getBytes)
      val all = Multimodal.readMediaDir(spark, dir.getAbsolutePath).collect()
      assert(all.length == 4)
      val byKind = all.map(r => r.getString(1) -> r).toMap
      assert(byKind.keySet == Set("image", "audio", "video", "other"))
      val img = byKind("image").getStruct(3)
      assert(img.getString(0) == "image/png" && img.getInt(1) == 6 && img.getInt(2) == 4)
      val vid = byKind("video").getStruct(3)
      assert(vid.getString(0) == "video/mp4" && vid.getInt(1) == 320 &&
        vid.getLong(3) == 2500L)
      assert(byKind("audio").getStruct(3).getString(0) == "audio/wav")
      assert(byKind("other").getStruct(3).isNullAt(0))
      // ids are stable across re-reads (path-derived, not listing-order)
      val again = Multimodal.readMediaDir(spark, dir.getAbsolutePath).collect()
      assert(all.map(r => r.getString(4) -> r.getLong(0)).toMap ==
        again.map(r => r.getString(4) -> r.getLong(0)).toMap)
      assert(all.map(_.getLong(0)).distinct.length == 4)
      // glob pushdown restricts the listing
      val pngOnly = Multimodal.readMediaDir(spark, dir.getAbsolutePath, "*.png").collect()
      assert(pngOnly.length == 1 && pngOnly(0).getString(1) == "image")
      // the ingested frame feeds the normal pipeline stages
      val feats = Multimodal.extractFeatures(
        Multimodal.readMediaDir(spark, dir.getAbsolutePath), dim = 4).collect()
      assert(feats.length == 4 && feats.forall(!_.isNullAt(3)))
    } finally {
      dir.listFiles.foreach(_.delete()); dir.delete()
    }
  }

  test("bilinear resize is real: hand-computed taps, identity, round-trip") {
    import graft.multimodal.Multimodal
    // 4x4 → 2x2 with half-pixel centers: output (0,0) samples source
    // (0.5, 0.5) = mean of the 2x2 top-left block, exactly
    val px = new Array[Byte](4 * 4 * 3)
    for (y <- 0 until 4; x <- 0 until 4; c <- 0 until 3)
      px((y * 4 + x) * 3 + c) = ((y * 4 + x) * 10 + c).toByte
    val small = Multimodal.bilinearResizeBgr(4, 4, px, 2, 2)
    for (c <- 0 until 3) {
      // top-left block values: 0,10,40,50 (+c) → mean 25 (+c)
      assert((small(c) & 0xff) == 25 + c)
      // top-right block: 20,30,60,70 (+c) → 45 (+c)
      assert((small(3 + c) & 0xff) == 45 + c)
      // bottom-left block: 80,90,120,130 (+c) → 105 (+c)
      assert((small(6 + c) & 0xff) == 105 + c)
      // bottom-right block: 100,110,140,150 (+c) → 125 (+c)
      assert((small(9 + c) & 0xff) == 125 + c)
    }
    // identity resize reproduces the buffer byte-for-byte
    assert(Multimodal.bilinearResizeBgr(4, 4, px, 4, 4).sameElements(px))
    // upscale: a constant image stays constant at any output size
    // (edge clamping must not bleed garbage at the borders)
    val const = Array.fill[Byte](2 * 2 * 3)(77)
    assert(Multimodal.bilinearResizeBgr(2, 2, const, 5, 7)
      .forall(_ == 77.toByte))
    // PNG re-encode round-trips through our own decoder
    val png = Multimodal.pngFromBgr(2, 2, small)
    val dec = Multimodal.decodePng(png)
    assert(dec != null && dec._1 == 2 && dec._2 == 2 && dec._3.sameElements(small))
    // e2e: every decodable image row resizes to the target dims and
    // the payload is a valid PNG; non-image rows carry null
    val resized = Multimodal.resizeImages(Multimodal.syntheticMedia(spark, 30), 16, 12)
      .collect()
    val (imgs, rest) = resized.partition(_.getString(1) == "image")
    assert(imgs.nonEmpty && imgs.forall { r =>
      val d = Multimodal.decodePng(r.getAs[Array[Byte]]("resized"))
      d != null && d._1 == 16 && d._2 == 12 && r.getInt(2) >= 8 && r.getInt(3) >= 8 &&
        // digest is over the resampled pixels, zlib-independent
        !r.isNullAt(5)
    })
    assert(rest.nonEmpty && rest.forall(r => r.isNullAt(4) && r.isNullAt(5)))
    // digests are deterministic across executions
    val again = Multimodal.resizeImages(Multimodal.syntheticMedia(spark, 30), 16, 12)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(5)) 0L else r.getLong(5))).toMap
    assert(resized.map(r => r.getLong(0) -> (if (r.isNullAt(5)) 0L else r.getLong(5)))
      .toMap == again)
  }

  test("MP4 box-walk sniffing is real: v0/v1 boxes, largesize, refusals") {
    import graft.multimodal.Mp4
    // writer(v0 boxes) → sniffer round-trip with exact values
    assert(Multimodal.sniffMeta(Mp4.mp4Bytes(640, 480, 12345L, 7L)) ==
      ("video/mp4", 640, 480, 12345L))
    // hand-built VERSION-1 mvhd/tkhd (64-bit times — layout offsets
    // pinned independently of the writer, which only emits v0)
    def box(t: String, payload: Array[Byte]*): Array[Byte] = {
      val total = 8 + payload.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(total)
      bb.putInt(total).put(t.getBytes("US-ASCII"))
      payload.foreach(bb.put)
      bb.array()
    }
    val ftyp = box("ftyp", "isom".getBytes, Array[Byte](0, 0, 2, 0), "isom".getBytes)
    val mvhd1 = {
      val bb = java.nio.ByteBuffer.allocate(112)
      bb.putInt(0x01000000)             // version 1
        .putLong(0L).putLong(0L)        // 64-bit creation/modification
        .putInt(90000)                  // timescale
        .putLong(90000L * 7)            // 64-bit duration = 7 s
        .putInt(0x00010000).putShort(0x0100.toShort).putShort(0)
        .putInt(0).putInt(0)
      bb.array()                        // (matrix/pre_defined left zero)
    }
    val tkhd1 = {
      val bb = java.nio.ByteBuffer.allocate(96)
      bb.putInt(0x01000007)
        .putLong(0L).putLong(0L)        // 64-bit times
        .putInt(1).putInt(0)
        .putLong(90000L * 7)            // 64-bit duration
        .putInt(0).putInt(0)
        .putShort(0).putShort(0).putShort(0).putShort(0)
        .put(new Array[Byte](36))       // matrix
        .putInt(1280 << 16).putInt(720 << 16)
      bb.array()
    }
    val v1 = ftyp ++ box("moov", box("mvhd", mvhd1), box("trak", box("tkhd", tkhd1)))
    assert(Multimodal.sniffMeta(v1) == ("video/mp4", 1280, 720, 7000L))
    // 64-bit largesize framing on the moov box itself
    val inner = box("mvhd", mvhd1) ++ box("trak", box("tkhd", tkhd1))
    val largeMoov = {
      val bb = java.nio.ByteBuffer.allocate(16 + inner.length)
      bb.putInt(1).put("moov".getBytes).putLong(16L + inner.length).put(inner)
      bb.array()
    }
    assert(Multimodal.sniffMeta(ftyp ++ largeMoov) == ("video/mp4", 1280, 720, 7000L))
    // no video-sized track → audio/mp4 (geometry nulls, duration real)
    val audioOnly = ftyp ++ box("moov", box("mvhd", mvhd1))
    assert(Multimodal.sniffMeta(audioOnly) == ("audio/mp4", null, null, 7000L))
    // real-world shapes: free/skip padding boxes between ftyp and moov,
    // and trak listed BEFORE mvhd inside moov — both must still parse
    val padded2 = ftyp ++ box("free", new Array[Byte](32)) ++
      box("skip", new Array[Byte](8)) ++
      box("moov", box("trak", box("tkhd", tkhd1)), box("mvhd", mvhd1))
    assert(Multimodal.sniffMeta(padded2) == ("video/mp4", 1280, 720, 7000L))
    // refusals: truncated mid-box, corrupt size, non-BMFF bytes
    val bad = Mp4.mp4Bytes(64, 48, 100L, 1L)
    val truncated = bad.take(bad.length / 2) // ftyp intact, moov torn
    assert(Mp4.sniff(truncated) == ("video/mp4", null, null, null))
    assert(Mp4.sniff("this is not an mp4 file at all....".getBytes) == null)
    assert(Mp4.sniff(null) == null)
    // brand-driven mimes: M4A → audio/mp4, qt → video/quicktime
    def withBrand(brand: String): Array[Byte] =
      box("ftyp", brand.getBytes("US-ASCII"), Array[Byte](0, 0, 2, 0),
        "isom".getBytes) ++ box("moov", box("mvhd", mvhd1))
    assert(Multimodal.sniffMeta(withBrand("M4A "))._1 == "audio/mp4")
    assert(Multimodal.sniffMeta(withBrand("qt  "))._1 == "video/quicktime")
  }

  test("MP3 frame walk is real: duration/bitrate from chained headers") {
    import graft.multimodal.Mp3
    // 38 frames of MPEG-1 Layer III @ 44100: duration is EXACTLY
    // 38 * 1152 / 44100 s = 992.65... -> 993 ms, regardless of payload
    val plain = Mp3.mp3Bytes(38, id = 5L)
    assert(Mp3.walk(plain) == (38, 993L, 128, 44100))
    assert(Multimodal.sniffMeta(plain) == ("audio/mpeg", null, null, 993L))
    // a leading ID3v2 tag is skipped via its syncsafe size
    val tagged = Mp3.mp3Bytes(38, id = 6L, withId3 = true)
    assert(Multimodal.sniffMeta(tagged) == ("audio/mpeg", null, null, 993L))
    // trailing ID3v1 block ends the walk cleanly, frames unchanged
    val v1 = plain ++ ("TAG" + "x" * 125).getBytes("US-ASCII")
    assert(Mp3.walk(v1) == (38, 993L, 128, 44100))
    // under MinFrames chained frames the bytes are NOT mp3 (the
    // false-positive guard random payloads rely on)
    assert(Mp3.sniff(Mp3.mp3Bytes(2, id = 7L)) == null)
    // truncation mid-stream keeps only the complete frames
    val cut = plain.take(418 + 417 + 418 + 100) // 3 frames + a torn 4th
    assert(Mp3.walk(cut)._1 == 3)
    // hand-built VBR: 128k frame chained to a 192k frame (idx 11) —
    // the walk must honor EACH header's own length and average them
    def frame(brIdx: Int, len: Int): Array[Byte] = {
      val f = new Array[Byte](len)
      f(0) = 0xFF.toByte; f(1) = 0xFB.toByte
      f(2) = (brIdx << 4).toByte; f(3) = 0x44
      f
    }
    val vbr = frame(9, 417) ++ frame(11, 626) ++ frame(9, 417) ++ frame(11, 626)
    val (fr, dur, kbps, rate) = Mp3.walk(vbr)
    assert(fr == 4 && rate == 44100)
    assert(kbps == (128 + 192 + 128 + 192) / 4)
    assert(dur == math.round(4 * 1152 * 1000.0 / 44100))
    // refusals: random bytes, reserved version/layer, free-format bitrate
    assert(Mp3.sniff("definitely not mpeg audio data at all".getBytes) == null)
    assert(Mp3.sniff(null) == null)
    val reserved = plain.clone
    reserved(1) = 0xF3.toByte // version bits = 01 (reserved) in frame 1
    assert(Mp3.walk(reserved) == null || Mp3.walk(reserved)._1 < 38)
  }

  test("IMA-ADPCM decode is real: bit-exact vs encoder reconstruction") {
    import graft.multimodal.Adpcm
    // smooth sine + a sharp step — exercises the step-size adaptation
    val n = 4321                        // deliberately not a block multiple
    val src = Array.tabulate[Short](n) { i =>
      val s = math.sin(i * 0.037) * 9000 + (if (i > 2000) 6000 else -2000)
      s.toInt.max(-32768).min(32767).toShort
    }
    val (bytes, recon) = Adpcm.encodeWavIma(16000, src)
    val dec = Multimodal.decodeWavAdpcm(bytes)
    assert(dec != null)
    val (rate, got) = dec
    assert(rate == 16000)
    // the fact chunk trims the final block's padding to exactly n
    assert(got.length == n)
    // decoder output must equal the encoder's tracked reconstruction
    // BIT-EXACTLY — one shared nibble rule, zero drift
    assert(got.sameElements(recon))
    // and the lossy reconstruction must actually track the source:
    // 4-bit IMA ADPCM on smooth content stays within a few step sizes
    val nmse = {
      var se = 0.0; var sp = 0.0
      for (i <- 0 until n) {
        val d = (got(i) - src(i)).toDouble; se += d * d
        sp += src(i).toDouble * src(i)
      }
      se / sp
    }
    assert(nmse < 0.01, s"NMSE too high: $nmse")
    // property over random waveforms: decode(encode(x)) equals the
    // encoder's tracked reconstruction bit-exactly for ANY input —
    // white noise, DC offsets, full-scale swings, odd lengths
    val prnd = new scala.util.Random(7)
    for (trial <- 0 until 20) {
      val len = 1 + prnd.nextInt(3000)
      val wave = Array.tabulate[Short](len) { _ =>
        trial % 4 match {
          case 0 => prnd.nextInt(65536).toShort                  // white noise
          case 1 => (prnd.nextGaussian() * 300 + 12000).toInt
            .max(-32768).min(32767).toShort                      // high DC
          case 2 => (if (prnd.nextBoolean()) 32767 else -32768).toShort // slam
          case _ => (prnd.nextInt(200) - 100).toShort            // near-silence
        }
      }
      val (wb, wrecon) = Adpcm.encodeWavIma(8000, wave)
      val wdec = Multimodal.decodeWavAdpcm(wb)
      assert(wdec != null && wdec._2.sameElements(wrecon), s"trial $trial len $len")
    }
    // refusals: the PCM decoder must not accept ADPCM content and
    // vice versa; garbage refuses cleanly
    assert(Multimodal.decodeWavPcm16(bytes) == null)
    val pcm = {
      val bb = java.nio.ByteBuffer.allocate(44 + 200).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + 200).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
      bb.put("data".getBytes).putInt(200)
      bb.array()
    }
    assert(Multimodal.decodeWavAdpcm(pcm) == null)
    assert(Multimodal.decodeWavAdpcm("not audio".getBytes) == null)
    // truncated data: whole blocks decode, the torn tail is dropped
    val cut = java.util.Arrays.copyOf(bytes, bytes.length - 100)
    val cutDec = Multimodal.decodeWavAdpcm(cut)
    assert(cutDec != null && cutDec._2.length > 0 && cutDec._2.length < n)
    // end-to-end: synthetic ADPCM rows produce real quarter features
    // (id % 6 == 4 rows), matching the PCM featurizer's contract
    val feats = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 30), dim = 8)
      .collect().filter(r => r.getLong(0) % 6 == 4)
    assert(feats.nonEmpty)
    assert(feats.forall { r =>
      val f = r.getAs[collection.Seq[Float]]("feature")
      f.forall(v => v >= 0f && v <= 1f) && f.take(8).exists(_ > 0f)
    })
  }

  test("sharded export: stable assignment, one file per shard, manifest counts") {
    import graft.sources.Export
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, s"doc $i")).toDF("id", "body")
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val manifest = Export.writeShards(df, "id", nShards = 8, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every row accounted for; shards reasonably balanced (uniform hash)
    assert(manifest.values.sum == 500L)
    assert(manifest.keySet.subsetOf((0L until 8L).toSet))
    assert(manifest.values.forall(n => n > 30 && n < 95), manifest.toString)
    // one data file per shard directory
    for (s <- manifest.keys) {
      val files = new java.io.File(s"$dir/shard=$s")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $s has ${files.length} files")
    }
    // the export round-trips, shard column intact and assignment stable
    val back = spark.read.parquet(dir)
    assert(back.count() == 500)
    val re = Export.shardAssign(df, "id", 8)
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    back.select("id", "shard").collect().foreach { r =>
      assert(re(r.getLong(0)) == r.getAs[Number]("shard").longValue())
    }
    // content-stable: dropping other rows never moves a row
    val sub = Export.shardAssign(df.filter(col("id") <= 10), "id", 8)
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sub.forall { case (id, s) => re(id) == s })
    // zero-row shards still get a manifest entry (no directory): with
    // 3 rows into 64 shards most shards are empty but all 64 report
    val tiny = java.nio.file.Files.createTempDirectory("graft_tiny").toString
    val m64 = Export.writeShards(df.filter(col("id") <= 3), "id", 64, tiny)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m64.size == 64 && m64.values.sum == 3, m64.toString)
    assert(m64.count(_._2 == 0L) == 61 || m64.count(_._2 == 0L) == 62, m64.toString)
  }

  test("curriculum assignment: contiguous score bands, ±1 balance, deterministic, nulls refuse") {
    import graft.sources.Export
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1L to 103L).map(i => (i, rnd.nextInt(20).toLong)).toDF("id", "score")
    val got = Export.curriculumAssign(df, "id", "score", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 103)
    // bands are contiguous in (score, id) order and sized within one row
    val byShard = got.groupBy(_._3).view.mapValues(_.map(t => (t._2, t._1)).sorted).toMap
    assert(byShard.keySet == Set(0L, 1L, 2L, 3L))
    assert(byShard.values.map(_.size).toSet.subsetOf(Set(25, 26)),
      byShard.view.mapValues(_.size).toMap.toString)
    for (k <- 0L to 2L)
      assert(Ordering[(Long, Long)].lteq(byShard(k).last, byShard(k + 1).head),
        s"band $k overlaps band ${k + 1}")
    // exact rank arithmetic: matches the driver-side reference
    val ranked = got.map(t => (t._2, t._1)).sorted.zipWithIndex
      .map { case ((s, id), rk) => (id, rk.toLong * 4 / 103) }.toMap
    assert(got.forall { case (id, _, sh) => ranked(id) == sh })
    // deterministic under input partitioning
    val re = Export.curriculumAssign(df.repartition(7), "id", "score", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.forall { case (id, _, sh) => re(id) == sh })
    // nulls refuse (cross-engine null ordering would diverge)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val withNull = Seq((1L, Some(3L)), (2L, None)).toDF("id", "score")
    val e = intercept[Exception](
      Export.curriculumAssign(withNull, "id", "score", 2).collect())
    assert(msgs(e).exists(_.contains("null")), msgs(e).take(3).mkString(" | "))
    // empty input: empty result, schema intact
    val empty = Export.curriculumAssign(df.filter(col("id") < 0), "id", "score", 4)
    assert(empty.columns.toSeq == Seq("id", "score", "shard") && empty.count() == 0)
  }

  test("TFRecord sharded export: framing verifies against an independent reader, stable bytes") {
    import graft.sources.Export
    import spark.implicits._
    // spec-local TFRecord reader — its own CRC math, so agreement
    // genuinely cross-checks the writer's framing
    def readTfrecords(f: java.io.File): Seq[Array[Byte]] = {
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def mcrc(b: Array[Byte], off: Int, len: Int): Int = {
        val c = new java.util.zip.CRC32C()
        c.update(b, off, len)
        val crc = c.getValue.toInt
        ((crc >>> 15) | (crc << 17)) + 0xa282ead8
      }
      val out = Seq.newBuilder[Array[Byte]]
      while (bb.remaining() > 0) {
        val lenPos = bb.position()
        val len = bb.getLong.toInt
        assert(bb.getInt == mcrc(bytes, lenPos, 8), "length CRC")
        val payload = new Array[Byte](len)
        val payPos = bb.position()
        bb.get(payload)
        assert(bb.getInt == mcrc(bytes, payPos, len), "payload CRC")
        out += payload
      }
      out.result()
    }
    val df = (1L to 80L).map(i => (i, s"""{"id":$i,"text":"doc $i"}""".getBytes("UTF-8")))
      .toDF("id", "payload")
    val dir = java.nio.file.Files.createTempDirectory("graft_tfrec").toString
    val manifest = Export.writeShardsTfrecord(df, "id", "payload", nShards = 4, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(manifest.values.sum == 80L && manifest.size == 4)
    val payloads = (0 until 4).flatMap { s =>
      val f = new java.io.File(f"$dir/shard-$s%05d.tfrecord")
      if (manifest(s.toLong) == 0) { assert(!f.exists()); Seq.empty }
      else {
        val recs = readTfrecords(f)
        assert(recs.size.toLong == manifest(s.toLong))
        recs
      }
    }
    val ids = payloads.map(p => new String(p, "UTF-8")).map(s =>
      s.split(",")(0).split(":")(1).toLong).sorted
    assert(ids == (1L to 80L))
    // re-export is byte-identical (content-stable in-shard order)
    val before = java.nio.file.Files.readAllBytes(
      new java.io.File(f"$dir/shard-00000.tfrecord").toPath)
    Export.writeShardsTfrecord(df.repartition(7), "id", "payload", 4, dir).collect()
    val after = java.nio.file.Files.readAllBytes(
      new java.io.File(f"$dir/shard-00000.tfrecord").toPath)
    assert(java.util.Arrays.equals(before, after), "re-export must be byte-stable")
    // a corrupted byte is DETECTED by the reader's CRC (mask math real)
    val f0 = new java.io.File(f"$dir/shard-00000.tfrecord")
    val corrupt = java.nio.file.Files.readAllBytes(f0.toPath)
    corrupt(20) = (corrupt(20) ^ 0x40).toByte
    val cf = java.io.File.createTempFile("graft_tfrec_bad", ".tfrecord")
    java.nio.file.Files.write(cf.toPath, corrupt)
    intercept[Throwable](readTfrecords(cf))
    // null payloads are refused, not silently dropped
    val bad = Seq((1L, "ok".getBytes("UTF-8")), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val e = intercept[Exception](
      Export.writeShardsTfrecord(bad, "id", "payload", 2,
        java.nio.file.Files.createTempDirectory("graft_tfrec2").toString).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null payload")), msgs(e).take(3).mkString(" | "))
  }

  test("gzip TFRecord shards round-trip (tf.data's standard compression)") {
    import graft.sources.Export
    import spark.implicits._
    val df = (1L to 25L).map(i => (i, s"gz-$i".getBytes("UTF-8"))).toDF("id", "payload")
    val dir = java.nio.file.Files.createTempDirectory("graft_tfgz").toString
    val manifest = Export.writeShardsTfrecord(df, "id", "payload", 2, dir, gzip = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(manifest.values.sum == 25L)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted // Hadoop local-FS .crc sidecars
    assert(files.forall(_.endsWith(".tfrecord.gz")), files.mkString(","))
    // the file really is gzip (magic), and the reader sniffs + inflates
    val head = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, files.head).toPath).take(2)
    assert((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b)
    val back = Export.readTfrecords(spark, s"$dir/*.tfrecord.gz")
      .select("payload").collect()
      .map(r => new String(r.getAs[Array[Byte]](0), "UTF-8")).sorted
    assert(back.toSeq == (1L to 25L).map(i => s"gz-$i").sorted)
    // a TORN gzip member must refuse under strict — even when the
    // inflated prefix happens to end on a clean frame boundary, the
    // dataset silently shrinking is the exact failure strict refuses
    val full = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, files.head).toPath)
    val tornDir = java.nio.file.Files.createTempDirectory("graft_tfgz_torn").toString
    java.nio.file.Files.write(new java.io.File(tornDir, "t.tfrecord.gz").toPath,
      full.take(full.length - 8)) // cut the gzip trailer
    def msgs2(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs2(t.getCause)
    val eg = intercept[Exception](
      Export.readTfrecords(spark, s"$tornDir/*.tfrecord.gz").count())
    assert(msgs2(eg).exists(_.contains("gzip")), msgs2(eg).take(3).mkString(" | "))
    // non-strict: the inflated prefix's clean records survive
    val n = Export.readTfrecords(spark, s"$tornDir/*.tfrecord.gz",
      strict = false).count()
    assert(n >= 0L && n < 25L)
    // gzip dispatch is by EXTENSION, not content magic: a valid
    // uncompressed shard whose first record length is 0x8b1f
    // (35615-byte payload) starts with the gzip magic bytes by pure
    // coincidence and must still read as TFRecords
    val coincidence = Export.tfrecordFrame(new Array[Byte](0x8b1f)) ++
      Export.tfrecordFrame("after".getBytes("UTF-8"))
    assert((coincidence(0) & 0xff) == 0x1f && (coincidence(1) & 0xff) == 0x8b)
    val coDir = java.nio.file.Files.createTempDirectory("graft_tf_magic").toString
    java.nio.file.Files.write(
      new java.io.File(coDir, "c.tfrecord").toPath, coincidence)
    val co = Export.readTfrecords(spark, s"$coDir/*.tfrecord")
      .select("payload").collect().map(_.getAs[Array[Byte]](0))
    assert(co.length == 2 && co(0).length == 0x8b1f &&
      new String(co(1), "UTF-8") == "after")
    // and a .gz-named file that is NOT gzip refuses in strict,
    // yields zero records in the tolerant posture
    val lieDir = java.nio.file.Files.createTempDirectory("graft_tf_lie").toString
    java.nio.file.Files.write(
      new java.io.File(lieDir, "l.tfrecord.gz").toPath,
      Export.tfrecordFrame("plain".getBytes("UTF-8")))
    val el = intercept[Exception](
      Export.readTfrecords(spark, s"$lieDir/*.tfrecord.gz").count())
    assert(msgs2(el).exists(_.contains("gzip")), msgs2(el).take(3).mkString(" | "))
    assert(Export.readTfrecords(spark, s"$lieDir/*.tfrecord.gz",
      strict = false).count() == 0L)
    // extension-LESS gzip shards (tf.data compresses without renaming):
    // compression="gzip" forces inflation where "auto" would mis-read
    val bare = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_tf_bare").toFile, "x.tfrecord")
    java.nio.file.Files.copy(new java.io.File(dir, files.head).toPath, bare.toPath)
    val forced = Export.readTfrecords(spark, bare.getAbsolutePath,
      compression = "gzip").count()
    assert(forced > 0L, "forced gzip must read the renamed shard")
    assert(Export.readTfrecords(spark, bare.getAbsolutePath,
      strict = false).count() == 0L, "auto on a bare gzip file reads nothing")
  }

  test("shard audit: clean export passes; missing and torn shards report, never crash") {
    import graft.sources.Export
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, s"rec-$i".getBytes("UTF-8"))).toDF("id", "payload")
    val dir = java.nio.file.Files.createTempDirectory("graft_audit").toString
    val manifest = Export.writeShardsTfrecord(df, "id", "payload", 4, dir)
    // clean export: every shard ok, counts equal
    val clean = Export.auditShards(spark, dir, manifest).collect()
    assert(clean.length == 4 && clean.forall(_.getAs[Boolean]("ok")),
      clean.mkString(","))
    assert(clean.map(_.getAs[Long]("n_actual")).sum == 40L)
    // a DELETED shard file reports 0 actual rows, ok = false
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tfrecord")).sortBy(_.getName)
    val victim = files.head
    val victimShard = victim.getName.filter(_.isDigit).toLong
    assert(victim.delete())
    val afterDelete = Export.auditShards(spark, dir, manifest)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("ok")).toMap
    assert(!afterDelete(victimShard), afterDelete.toString)
    assert(afterDelete.count(!_._2) == 1, "only the deleted shard may fail")
    // a TORN shard file (truncated mid-frame) reports a shortfall,
    // not an exception — the audit's whole job is to report
    val torn = files(1)
    val bytes = java.nio.file.Files.readAllBytes(torn.toPath)
    java.nio.file.Files.write(torn.toPath, bytes.take(bytes.length - 3))
    // drop Hadoop's local-FS checksum sidecars: the torn-BYTES path is
    // what's under test, not the sidecar mismatch it would mask it with
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".crc"))
      .foreach(_.delete())
    val afterTear = Export.auditShards(spark, dir, manifest).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getAs[Boolean]("ok"))))
      .toMap
    val tornShard = torn.getName.filter(_.isDigit).toLong
    val (exp, act, ok) = afterTear(tornShard)
    assert(!ok && act < exp, s"torn shard must shortfall: $exp vs $act")
    // a VANISHED export (full outage) reports every shard, no crash
    files.drop(2).foreach(_.delete())
    new java.io.File(dir).listFiles().foreach(_.delete())
    val gone = Export.auditShards(spark, dir, manifest).collect()
    assert(gone.length == 4 && gone.forall(!_.getAs[Boolean]("ok")),
      gone.mkString(","))
  }

  test("tar audit: a boundary tear that keeps the sample count is caught by the strict verdict") {
    import graft.sources.{Export, TarShards}
    import spark.implicits._
    val df = (1L to 6L).map(i => (i, Seq(
        ("json", s"""{"i":$i}""".getBytes("UTF-8")),
        ("txt", s"text $i".getBytes("UTF-8")))))
      .toDF("id", "entries").withColumn("entries", expr(
        "transform(entries, e -> named_struct('name', e._1, 'content', e._2))"))
    val dir = java.nio.file.Files.createTempDirectory("graft_audit_tar").toString
    val manifest = TarShards.writeShardsTar(df, "id", "entries", 2, dir)
    val clean = Export.auditShards(spark, dir, manifest, format = "tar").collect()
    assert(clean.length == 2 && clean.forall(_.getAs[Boolean]("ok")),
      clean.mkString(","))
    // cut ONE 512-byte block off the end: the footer (and possibly the
    // tail of the last sample's last FILE) is gone, but every sample
    // still shows at least one file — the count matches, only `clean`
    // catches it
    val victim = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tar")).minBy(_.getName)
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    java.nio.file.Files.write(victim.toPath, bytes.take(bytes.length - 1024))
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".crc"))
      .foreach(_.delete())
    val shard = victim.getName.filter(_.isDigit).toLong
    val after = Export.auditShards(spark, dir, manifest, format = "tar")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getAs[Boolean]("clean"),
          r.getAs[Boolean]("ok")))).toMap
    val (_, _, cleanFlag, okFlag) = after(shard)
    assert(!cleanFlag && !okFlag, after.toString)
  }

  test("TFRecord ingest: write -> readTfrecords round-trip; strict vs prefix posture") {
    import graft.sources.Export
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, s"payload-$i".getBytes("UTF-8")))
      .toDF("id", "payload")
    val dir = java.nio.file.Files.createTempDirectory("graft_tfread").toString
    Export.writeShardsTfrecord(df, "id", "payload", nShards = 3, dir).collect()
    val back = Export.readTfrecords(spark, s"$dir/*.tfrecord")
      .select("payload").collect()
      .map(r => new String(r.getAs[Array[Byte]](0), "UTF-8")).sorted
    assert(back.toSeq == (1L to 40L).map(i => s"payload-$i").sorted)
    // corrupt one byte mid-file: strict throws, tolerant keeps the prefix
    val f0 = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tfrecord")).minBy(_.getName)
    val bytes = java.nio.file.Files.readAllBytes(f0.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x20).toByte
    val badDir = java.nio.file.Files.createTempDirectory("graft_tfbad").toString
    java.nio.file.Files.write(new java.io.File(badDir, "bad.tfrecord").toPath, bytes)
    val e = intercept[Exception](
      Export.readTfrecords(spark, s"$badDir/*.tfrecord").count())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("CRC") || m.contains("malformed")),
      msgs(e).take(3).mkString(" | "))
    val prefix = Export.readTfrecords(spark, s"$badDir/*.tfrecord", strict = false)
    val nGood = prefix.count()
    assert(nGood > 0 && nGood < Export.readTfrecords(spark,
      s"$dir/${f0.getName}").count() + 1, s"prefix kept $nGood")
  }

  test("sharded export writes JSONL for the tokenizer-handoff path (format=json)") {
    import graft.sources.Export
    import spark.implicits._
    // Spark's json writer IS line-delimited JSON — the interchange
    // format training dataloaders consume; same identity sharding
    val df = (1L to 60L).map(i => (i, s"doc $i body", s"l${i % 3}"))
      .toDF("id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val manifest = Export.writeShards(df, "id", nShards = 4, dir, format = "json")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(manifest.values.sum == 60L)
    // each shard is one .json file of newline-delimited objects
    val shard0 = new java.io.File(s"$dir/shard=0").listFiles()
      .filter(_.getName.endsWith(".json"))
    assert(shard0.length == 1)
    val lines = java.nio.file.Files.readAllLines(shard0(0).toPath)
    assert(lines.size.toLong == manifest(0L))
    assert(lines.get(0).startsWith("{") && lines.get(0).contains("\"text\""))
    // and it round-trips through the json reader with the rows intact
    val back = spark.read.json(dir)
    assert(back.count() == 60)
    assert(back.select("id", "text", "lang").collect().map(_.getLong(0)).sorted
      .toSeq == (1L to 60L))
  }

}
