package graft

/** Writes `.explain("formatted")` for every DataFrame-shaped bench
  * entry to one file per query — the optimization round's plan
  * evidence (`plans/r14/<query>_{before,after}.txt`). Uses the SAME
  * query function the bench times (benchVariant override first, then
  * the declared query) and the same session factory, so the captured
  * plan is the one whose seconds the bench records.
  *
  * `sbt "runMain graft.PlanDump <outDir> <suffix> [query...]"` —
  * env `SPARK_GRAFT_SF_DIR` as in Bench, the session from `Harness`.
  * Export entries (Unit actions) have no single plan; x_zorder_write's
  * layout frame is captured via its zOrderBy stage explicitly. */
object PlanDump {
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
        val fn = Bench.benchVariant.orElse(planOnly).orElse(SparkEntry.queries)
        val df = fn(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
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
