package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic above-bench-SF amplifier: writes `factor`× copies of
  * the sf tables a stress sweep needs into a new directory, seed-free
  * (the copy index IS the derivation — byte-stable across runs).
  *
  * Why not just test at sf0.1: 33 of 68 bench entries are
  * overhead-bound at 600k rows, so a hidden constant-factor cliff
  * (a driver-side collect that grows with data, an accidental
  * all-pairs term, a partition-less stage) can hide under fixed
  * costs. ×16–×32 puts the data-sensitive entries at 10–20M rows —
  * big enough that anything superlinear separates from the noise,
  * small enough to run on the build host.
  *
  * Per-table derivation (keys offset by copy·(max+1) so every copy's
  * key space is disjoint and FK joins stay consistent):
  *  - lineitem/orders: `l_orderkey`/`o_orderkey` offset in lockstep —
  *    the lineitem→orders join fans exactly as at sf0.1; `o_custkey`
  *    untouched (customer/nation stay dimension-sized, as they would
  *    at 100 TB).
  *  - events: `event_id` offset; `ts` kept (the global sort key
  *    (ts, event_id) stays total — more ts ties, same ordering
  *    semantics).
  *  - documents: `doc_id` offset; `text` passed through a PER-COPY
  *    letter rotation (Caesar on [a-z]+[A-Z], copy 0 = identity) —
  *    every shingle/token/hash differs across copies, so the corpus
  *    is F independent shards of the ORIGINAL near-dup graph: dedup
  *    workloads scale linearly in both docs and true pairs instead
  *    of drowning in F-cliques of verbatim copies that no real
  *    corpus contains.
  *  - embeddings: `vec_id` offset; vector elements ROTATED by the
  *    copy index (a rotation of a dense random-ish vector is just
  *    another vector — preserves norms and the within-copy
  *    neighborhood structure without creating cross-copy twins).
  *  - dimension tables (region/nation/customer/supplier/part):
  *    copied verbatim.
  */
object Amplify {

  /** translate() mapping for copy c: identity for c == 0, a DISTINCT
    * non-identity alphabet permutation for every other copy. A plain
    * Caesar rotation (k = i % 26) silently hands copies 26, 52, …
    * the identity map — byte-identical text to copy 0, recreating the
    * verbatim cross-copy cliques this transform exists to avoid. We
    * use the affine map j ↦ (a·j + b) mod 26 instead: a ranges over
    * the 12 units mod 26 and b over 0..25, giving 312 distinct
    * permutations of which only (a,b) = (1,0) — copy 0 — is identity.
    * Any character bijection preserves shingle/token equality
    * structure within a copy, so the near-dup graph per copy is
    * unchanged; distinctness across copies keeps shards independent.
    */
  private[graft] val MaxTextCopies = 312

  private[graft] def affinePerm(i: Int): String = {
    val units = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val a = units((i / 26) % units.length)
    val b = i % 26
    (0 until 26).map(j => ('a' + (a * j + b) % 26).toChar).mkString
  }

  private def caesar(c: org.apache.spark.sql.Column,
                     textCol: String, factor: Int): org.apache.spark.sql.Column = {
    require(factor <= MaxTextCopies,
      s"Amplify: factor $factor exceeds the $MaxTextCopies distinct text permutations")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    (1 until factor).foldLeft(when(c === 0, col(textCol))) { (acc, i) =>
      val p = affinePerm(i)
      acc.when(c === i, translate(col(textCol), lower + upper, p + p.toUpperCase))
    }.otherwise(col(textCol))
  }

  private def copies(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("__c", explode(sequence(lit(0), lit(factor - 1))))

  private def offsetKey(df: DataFrame, key: String, span: Long): DataFrame =
    df.withColumn(key, col(key) + col("__c") * lit(span))

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_stress"
    val factor = if (args.length > 2) args(2).toInt else 16
    // optional 4th arg: comma-separated table subset — a write-path
    // stress needs only lineitem/orders/documents, and skipping
    // embeddings also sidesteps the factor<=dim rotation guard at
    // factors the vector tables cannot support
    val tables: Set[String] = if (args.length > 3) args(3).split(',').toSet
      else Set("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
    def wanted(t: String): Boolean = tables.contains(t)
    val spark = Harness.session()

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def span(df: DataFrame, key: String): Long = {
      val row = df.agg(max(col(key)).cast("long")).collect()(0)
      require(!row.isNullAt(0),
        s"Amplify: cannot derive key span — table has no rows (or all-null '$key')")
      row.getLong(0) + 1L
    }

    // dimension tables: verbatim
    Seq("region", "nation", "customer", "supplier", "part")
      .filter(wanted).foreach(t => write(read(t), t))

    // facts: disjoint key spaces per copy, FK lockstep
    if (wanted("orders") || wanted("lineitem")) {
      val orders = read("orders")
      val lineitem = read("lineitem")
      val ordSpan = math.max(span(orders, "o_orderkey"), span(lineitem, "l_orderkey"))
      if (wanted("orders"))
        write(offsetKey(copies(orders, factor), "o_orderkey", ordSpan).drop("__c"), "orders")
      if (wanted("lineitem"))
        write(offsetKey(copies(lineitem, factor), "l_orderkey", ordSpan).drop("__c"), "lineitem")
    }

    if (wanted("events")) {
      val events = read("events")
      write(offsetKey(copies(events, factor), "event_id", span(events, "event_id"))
        .drop("__c"), "events")
    }

    if (wanted("documents")) {
      val docs = read("documents")
      val dSpan = span(docs, "doc_id")
      write(offsetKey(copies(docs, factor), "doc_id", dSpan)
        .withColumn("text", caesar(col("__c"), "text", factor))
        .drop("__c"), "documents")
    }

    if (wanted("embeddings")) {
      val emb = read("embeddings")
      val dim = emb.select(size(col("embedding")).cast("int")).na.drop().first().getInt(0)
      require(factor <= dim,
        s"Amplify: factor $factor exceeds embedding dim $dim — copy $dim's rotation " +
          "would alias copy 0, creating cross-copy twin vectors")
      val eSpan = span(emb, "vec_id")
      write(offsetKey(copies(emb, factor), "vec_id", eSpan)
        .withColumn("embedding",
          concat(
            slice(col("embedding"), col("__c") + 1,
              size(col("embedding")) - col("__c")),
            slice(col("embedding"), lit(1), col("__c"))))
        .drop("__c"), "embeddings")
    }

    println(s"""{"amplified":"$dst","factor":$factor,"source":"$src"}""")
    spark.stop()
  }
}
