package graft

import org.apache.spark.sql.functions._

/** Scratch micro-measurement main for the optimization rounds: times
  * named phases of an operator in isolation (min-of-3 after warmup,
  * cache-clear + GC between trials — the bench protocol). Not part of
  * the driver contract; numbers land in OPTIMIZATION_r14.md. */
object Micro {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    GraftSession.setLogLevel(spark, "ERROR")
    def t(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def trial(name: String)(f: => Unit): Unit = {
      f // warmup
      val best = (1 to 3).map { _ =>
        spark.catalog.clearCache(); System.gc()
        t(f)
      }.min
      println(f"[micro] $name%-28s $best%.3f s")
    }
    args.headOption.getOrElse("zorder") match {
      case "zorder" =>
        val df = SparkEntry.t(spark, d, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice")
        val probs = (1 until 256).map(_.toDouble / 256).toArray
        trial("quantile_pass") {
          df.stat.approxQuantile(Array("l_orderkey", "l_partkey"), probs, 0.001)
          ()
        }
        val zdf = df.withColumn("__z",
          graft.sources.ZOrder.zValue(df, Seq("l_orderkey", "l_partkey"), 8))
        trial("scan_plus_z_noop") {
          zdf.write.format("noop").mode("overwrite").save()
        }
        trial("range_sort_noop") {
          zdf.repartitionByRange(16, col("__z")).sortWithinPartitions("__z")
            .drop("__z").write.format("noop").mode("overwrite").save()
        }
        trial("range_sort_parquet") {
          zdf.repartitionByRange(16, col("__z")).sortWithinPartitions("__z")
            .drop("__z").write.mode("overwrite").parquet("/tmp/zm_out")
        }
        trial("full_writeZOrdered") {
          graft.sources.ZOrder.writeZOrdered(df, "/tmp/zm_out2",
            Seq("l_orderkey", "l_partkey"), 16)
        }
        trial("plain_scan_noop") {
          df.write.format("noop").mode("overwrite").save()
        }
      case "lsh64" =>
        // ×64 banding-kernel A/B: the embed_dedup arm's dominant cost.
        // Times the LSH banding projection alone (noop sink) under
        // whole-stage codegen (the r14 UnaryKernelCodegen path) and
        // fully interpreted (factoryMode NO_CODEGEN — the closest
        // runtime stand-in for the old CodegenFallback cost), then the
        // full operator.
        val emb64 = spark.read.parquet("/tmp/graft_stress64v/embeddings.parquet")
          .repartition(cpus.toInt)
        val n = emb64.count()
        val bits = graft.ml.Dedup.autoNBits(n, 125L)
        val bands = graft.ml.Dedup.autoBands(0.7, bits, 1e-3)
        System.err.println(s"[micro] lsh64 n=$n bits=$bits bands=$bands")
        def banding() = emb64.select(
          graft.functions.Kernels.cosineLshBands(
            col("embedding"), bands, bits, 42L).as("__keys"))
        trial("banding_codegen") {
          banding().write.format("noop").mode("overwrite").save()
        }
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        try trial("banding_interpreted") {
          banding().write.format("noop").mode("overwrite").save()
        } finally {
          spark.conf.set("spark.sql.codegen.wholeStage", "true")
          spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
        }
        trial("embed_dedup_full") {
          graft.ml.Dedup.embeddingDedup(emb64, "vec_id", "embedding",
            threshold = 0.7).count()
          ()
        }
        // stage isolation: banding projection + posexplode (the
        // Generate interaction), no groupBy/shuffle
        val keyed64 = emb64.select(col("vec_id").cast("long").as("__id"),
          col("embedding").as("__v"),
          graft.functions.Kernels.cosineLshBands(
            col("embedding"), bands, bits, 42L).as("__keys"))
        trial("banding_explode_noop") {
          keyed64.select(col("__id"), col("__v"),
              posexplode(col("__keys")).as(Seq("__band", "__key")))
            .write.format("noop").mode("overwrite").save()
        }
        trial("banding_explode_groupby") {
          keyed64.select(col("__id"), col("__v"),
              posexplode(col("__keys")).as(Seq("__band", "__key")))
            .groupBy(col("__band"), col("__key"))
            .agg(collect_list(struct(col("__id"), col("__v"))).as("__bucket"))
            .write.format("noop").mode("overwrite").save()
        }
      case "lshplan" =>
        // plan shape only (no trials): how the banding kernel sits
        // relative to Generate under the current trait
        val emb64 = spark.read.parquet("/tmp/graft_stress64v/embeddings.parquet")
          .repartition(cpus.toInt)
        val keyed64 = emb64.select(col("vec_id").cast("long").as("__id"),
          col("embedding").as("__v"),
          graft.functions.Kernels.cosineLshBands(
            col("embedding"), 125, 10, 42L).as("__keys"))
        println(keyed64.select(col("__id"), col("__v"),
            posexplode(col("__keys")).as(Seq("__band", "__key")))
          .queryExecution.executedPlan.toString.take(3000))
      case "bestcos64" =>
        // ×64 assignment-kernel A/B (bestCosine, the IVF/semantic
        // assign cost): codegen trait vs fully interpreted.
        val emb64 = spark.read.parquet("/tmp/graft_stress64v/embeddings.parquet")
          .repartition(cpus.toInt)
        val cents = graft.ml.Similarity.centroids(
          emb64, "vec_id", "embedding", nLists = 358, refineIters = 0)
        val (centsL, _) = graft.core.Persisted.localize(cents)
        def assign() = graft.ml.Similarity.assignLists(
          emb64, "vec_id", "embedding", centsL)
        trial("assign_codegen") {
          assign().write.format("noop").mode("overwrite").save()
        }
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        try trial("assign_interpreted") {
          assign().write.format("noop").mode("overwrite").save()
        } finally {
          spark.conf.set("spark.sql.codegen.wholeStage", "true")
          spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
        }
      case other =>
        System.err.println(s"[micro] unknown probe $other")
    }
    spark.stop()
  }
}
