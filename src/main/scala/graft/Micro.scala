package graft

import org.apache.spark.sql.functions._

/** Scratch micro-measurement main for the optimization rounds: times
  * named phases of an operator in isolation (`Harness.trial`: warm-up,
  * cache reset + GC, min of 3, reset — the bench protocol). Not part of
  * the driver contract; numbers land in OPTIMIZATION_r14.md. */
object Micro {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("ERROR")
    def trial(name: String)(f: => Unit): Unit =
      println(f"[micro] $name%-28s ${Harness.trial(spark)(f)._1}%.3f s")
    // one probe under whole-stage codegen, then fully interpreted
    // (factoryMode NO_CODEGEN — the closest runtime stand-in for the old
    // CodegenFallback cost)
    def codegenAB(name: String)(f: => Unit): Unit = {
      trial(s"${name}_codegen")(f)
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try trial(s"${name}_interpreted")(f) finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    }
    def emb64() = spark.read.parquet("/tmp/graft_stress64v/embeddings.parquet")
      .repartition(Harness.cpus)
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
        // fully interpreted, then the full operator.
        val emb = emb64()
        val n = emb.count()
        val bits = graft.ml.Dedup.autoNBits(n, 125L)
        val bands = graft.ml.Dedup.autoBands(0.7, bits, 1e-3)
        System.err.println(s"[micro] lsh64 n=$n bits=$bits bands=$bands")
        codegenAB("banding") {
          emb.select(graft.functions.Kernels.cosineLshBands(
              col("embedding"), bands, bits, 42L).as("__keys"))
            .write.format("noop").mode("overwrite").save()
        }
        trial("embed_dedup_full") {
          graft.ml.Dedup.embeddingDedup(emb, "vec_id", "embedding",
            threshold = 0.7).count()
          ()
        }
        // stage isolation: banding projection + posexplode (the
        // Generate interaction), no groupBy/shuffle
        val keyed64 = emb.select(col("vec_id").cast("long").as("__id"),
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
        val keyed64 = emb64().select(col("vec_id").cast("long").as("__id"),
          col("embedding").as("__v"),
          graft.functions.Kernels.cosineLshBands(
            col("embedding"), 125, 10, 42L).as("__keys"))
        println(keyed64.select(col("__id"), col("__v"),
            posexplode(col("__keys")).as(Seq("__band", "__key")))
          .queryExecution.executedPlan.toString.take(3000))
      case "bestcos64" =>
        // ×64 assignment-kernel A/B (bestCosine, the IVF/semantic
        // assign cost): codegen trait vs fully interpreted.
        val emb = emb64()
        val cents = graft.ml.Similarity.centroids(
          emb, "vec_id", "embedding", nLists = 358, refineIters = 0)
        val (centsL, _) = graft.core.Persisted.localize(cents)
        codegenAB("assign") {
          graft.ml.Similarity.assignLists(emb, "vec_id", "embedding", centsL)
            .write.format("noop").mode("overwrite").save()
        }
      case other =>
        System.err.println(s"[micro] unknown probe $other")
    }
    spark.stop()
  }
}
