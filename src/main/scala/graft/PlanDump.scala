package graft

/** Writes `.explain("formatted")` for every DataFrame-shaped bench
  * entry to one file per query — the optimization round's plan
  * evidence (`plans/r14/<query>_{before,after}.txt`). Uses the SAME
  * frame the bench times ([[Bench.frame]]: the bench variant, else a
  * certified query's bare operator from [[SparkEntry.operators]], else
  * the declared query) and the same session factory, so the captured
  * plan is the one whose seconds the bench records.
  *
  * `sbt "runMain graft.PlanDump <outDir> <suffix> [query...]"` —
  * env `SPARK_GRAFT_SF_DIR` as in Bench, the session from `Harness`.
  * Export entries (Unit actions) have no single plan; x_zorder_write's
  * layout frame is captured via its zOrderBy stage explicitly. A file
  * depends only on its query's plan, not on what ran before it or on
  * which source line built its frame ([[renumbered]]). */
object PlanDump {
  /** `plan` with its run-dependent numbers renumbered 0, 1, … in
    * first-seen order, one sequence each: expression ids (`#<n>`),
    * exchange ids (`plan_id=<n>`), lambda-variable suffixes
    * (`lambda x_<n>`), the JVM's closure class names, which carry
    * a load-order number, an address and an identity hash (a
    * `mapPartitions` body prints as one), the identity hash of an array
    * literal (a PQ codebook prints as `[D@<hex>`), and, in the scan of
    * a frame built from an RDD, the RDD id (`MapPartitionsRDD[<n>]`)
    * and the call site's source line (`Dedup.scala:<n>`), which move
    * with the session's RDD count and with unrelated edits to that
    * file. */
  private[graft] def renumbered(plan: String): String =
    Seq("""(#)(\d+)""", """(plan_id=)(\d+)""", """(lambda [a-z]+_)(\d+)""",
        """(\$Lambda)(\$\d+/0x\p{XDigit}+@\p{XDigit}+)""", """(\[[BCDFIJSZ]@)(\p{XDigit}+)""",
        """(RDD\[)(\d+)""", """(\.scala:)(\d+)""")
      .foldLeft(plan) { (text, pattern) =>
        val seen = scala.collection.mutable.Map.empty[String, Int]
        pattern.r.replaceAllIn(text, m => scala.util.matching.Regex.quoteReplacement(
          m.group(1) + seen.getOrElseUpdate(m.group(2), seen.size)))
      }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [query...]")
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("ERROR")
    val planOnly: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      // the write's input plan: quantile pass excluded (its plan is a
      // plain agg), layout exchange + sort included
      "x_zorder_write" -> ((s, d) =>
        graft.sources.ZOrder.zOrderBy(
          SparkEntry.t(s, d, "lineitem")
            .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
              "l_extendedprice"),
          Seq("l_orderkey", "l_partkey"), numFiles = 16)))
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else Bench.headline ++ planOnly.keys
    names.foreach { n =>
      try {
        val df = planOnly.getOrElse(n, Bench.frame(n))(spark, sfDir)
        val txt = renumbered(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        val f = new java.io.File(outDir, s"${n}_$suffix.txt")
        val w = new java.io.PrintWriter(f, "UTF-8")
        try w.println(txt) finally w.close()
        System.err.println(s"[plandump] wrote ${f.getPath}")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
