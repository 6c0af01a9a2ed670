package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every value is a hash of (seed, table salt,
  * row id), and every table is written from a fixed number of
  * partitions, so one seed always yields the same files byte for byte.
  *
  * The relational tables follow the TPC-H-like sf0.1 schema the library's
  * queries were written against (lineitem 600k rows, orders 150k,
  * customer 15k, part 20k, events 100k), with the fact tables doubled;
  * the corpus is documents with planted near-duplicates, HTML and
  * PII, and clustered 64-d embeddings. */
final class Gen(spark: SparkSession, seed: Long) {

  private def h(salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform double in [0, 1). */
  private def u(salt: Int, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)

  /** Uniform long in [0, n). */
  private def ui(salt: Int, n: Long, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(n))

  private def pick(salt: Int, values: Seq[String], cols: Column*): Column =
    element_at(array(values.map(lit): _*), (ui(salt, values.size, cols: _*) + 1).cast("int"))

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  private def ids(n: Long, parts: Int): DataFrame = spark.range(0L, n, 1L, parts).toDF()

  private val id = col("id")
  private val day0 = 694224000L // 1992-01-01 UTC, epoch seconds
  private val ev0 = 1704067200L // 2024-01-01 UTC

  val Customers = 15000L
  val Parts = 20000L
  val Users = 2000L
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes = Seq("view", "click", "cart", "buy", "error")

  /** Writes the relational tables under `dir` — the fact tables at twice
    * sf0.1, 8 files each — and returns table → rows. */
  def relational(dir: String): Map[String, Long] = {
    val factor = 2
    val factFiles = 8
    val nOrders = 150000L * factor
    val nLines = 4L * nOrders
    val nEvents = 100000L * factor
    write(spark.range(0L, 5L, 1L, 1).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")), s"$dir/region")
    write(spark.range(0L, 25L, 1L, 1).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), format_string("%02d", id)).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), s"$dir/nation")
    write(ids(Customers, 2).select((id + 1).as("c_custkey"),
      format_string("Customer#%09d", id + 1).as("c_name"),
      ui(1, 25, id).cast("int").as("c_nationkey"),
      round(u(2, id) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(3, Segments, id).as("c_mktsegment")), s"$dir/customer")
    write(ids(Parts, 2).select((id + 1).as("p_partkey"),
      format_string("part %d", id + 1).as("p_name"),
      format_string("Brand#%d%d", ui(4, 5, id) + 1, ui(5, 5, id) + 1).as("p_brand"),
      pick(6, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"), id).as("p_type"),
      (ui(7, 50, id) + 1).cast("int").as("p_size"),
      round(u(8, id) * 1100.0 + 900.0, 2).as("p_retailprice")), s"$dir/part")
    write(ids(nOrders, factFiles).select((id + 1).as("o_orderkey"),
      (ui(10, Customers, id) + 1).as("o_custkey"),
      pick(11, Seq("F", "O", "P"), id).as("o_orderstatus"),
      round(u(12, id) * 450000.0 + 900.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(day0) + ui(13, 2405L, id) * 86400L).as("o_orderdate"),
      pick(14, Priorities, id).as("o_orderpriority")), s"$dir/orders")
    val qty = (ui(20, 50, id) + 1).cast("double")
    write(ids(nLines, factFiles).select(
      (floor(id / 4) + 1).as("l_orderkey"),
      (ui(21, Parts, id) + 1).as("l_partkey"),
      (ui(22, 1000, id) + 1).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (u(23, id) * 1100.0 + 900.0), 2).as("l_extendedprice"),
      (ui(24, 11, id).cast("double") / 100.0).as("l_discount"),
      (ui(25, 9, id).cast("double") / 100.0).as("l_tax"),
      pick(26, Seq("A", "N", "R"), id).as("l_returnflag"),
      pick(27, Seq("F", "O"), id).as("l_linestatus"),
      timestamp_seconds(lit(day0) + ui(28, 2526L, id) * 86400L).as("l_shipdate")),
      s"$dir/lineitem")
    // two days of clicks: ~50 events per user, gaps mostly under an hour
    write(ids(nEvents, factFiles).select(id.as("event_id"),
      timestamp_micros(lit(ev0 * 1000000L) + ui(30, 172800L * 1000000L, id)).as("ts"),
      (ui(31, Users, id) + 1).as("user_id"),
      pick(32, EventTypes, id).as("event_type"),
      round(u(33, id) * 200.0, 2).as("value")), s"$dir/events")
    // per-user promotion windows for the range join: [lo, hi] in epoch µs
    val lo = lit(ev0 * 1000000L) + ui(40, 170000L * 1000000L, id)
    write(ids(Users * 4, 2).select(id.as("promo_id"),
      (floor(id / 4) + 1).as("user_id"),
      lo.as("lo_us"), (lo + (ui(41, 4L * 3600L, id) + 600L) * 1000000L).as("hi_us")),
      s"$dir/promos")
    Map("region" -> 5L, "nation" -> 25L, "customer" -> Customers, "part" -> Parts,
      "orders" -> nOrders, "lineitem" -> nLines, "events" -> nEvents, "promos" -> Users * 4)
  }

  /** Documents: `batches` × `perBatch` docs, ids batch-major. A fifth of
    * the docs re-use an earlier doc of the same batch as their base with
    * ~5% of words changed (near-duplicates); some carry HTML markup and
    * e-mail/phone PII. Columns: doc_id, batch, text. */
  def documents(path: String, batches: Int, perBatch: Int): Long = {
    val n = batches.toLong * perBatch
    val vocab = array(Gen.Vocab.map(lit): _*)
    val local = id % perBatch
    // near-dup base: an earlier doc of the same batch
    val base = when(local > 0 && u(50, id) < 0.2, id - (ui(51, 1L << 30, id) % local) - 1)
      .otherwise(id)
    val nWords = (ui(52, 60, col("base")) + 20).cast("int")
    val words = transform(sequence(lit(0), nWords - 1), k =>
      when(pmod(xxhash64(lit(seed), lit(53), col("id"), k), lit(20L)) === 0 &&
          col("base") =!= col("id"),
        element_at(vocab, (pmod(xxhash64(lit(seed), lit(54), col("id"), k),
          lit(Gen.Vocab.size.toLong)) + 1).cast("int")))
        .otherwise(element_at(vocab, (pmod(xxhash64(lit(seed), lit(55), col("base"), k),
          lit(Gen.Vocab.size.toLong)) + 1).cast("int"))))
    val body = array_join(words, " ")
    val pii = when(u(56, id) < 0.15,
      concat(lit(" contact "), pick(57, Seq("ann", "bo", "cy", "di"), id),
        format_string(".%d@example.com", ui(58, 1000, id))))
      .when(u(56, id) < 0.25, format_string(" call +1555%07d", ui(59, 10000000L, id)))
      .otherwise(lit(""))
    val text = when(u(61, id) < 0.3,
      concat(lit("<html><body><p>"), body, pii, lit("</p><br/></body></html>")))
      .otherwise(concat(body, pii))
    write(ids(n, 8).withColumn("base", base)
      .select(id.as("doc_id"), (id / perBatch).cast("int").as("batch"), text.as("text")),
      path)
    n
  }

  /** Embeddings: vectors around 64 seeded centres, `batches` × `perBatch`
    * rows, ids batch-major. Columns: vec_id, batch, embedding (float[64]). */
  def embeddings(path: String, batches: Int, perBatch: Int): Long = {
    val n = batches.toLong * perBatch
    write(ids(n, 8).select(id.as("vec_id"), (id / perBatch).cast("int").as("batch"),
      vector(id, ui(70, 64, id), 71)), path)
    n
  }

  /** Query vectors: `perBatch` per batch, drawn around the same centres. */
  def queries(path: String, batches: Int, perBatch: Int): Long = {
    val n = batches.toLong * perBatch
    write(ids(n, 1).select(id.as("qid"), (id / perBatch).cast("int").as("batch"),
      vector(id, ui(80, 64, id), 81)), path)
    n
  }

  private def gauss(salt: Int, a: Column, k: Column): Column = {
    // sum of four uniforms, centred: a cheap bell shape with unit-ish spread
    val us = (0 until 4).map(j => pmod(xxhash64(lit(seed), lit(salt + j), a, k),
      lit(1L << 53)).cast("double") / lit((1L << 53).toDouble))
    (us.reduce(_ + _) - 2.0) * 1.7
  }

  private def vector(rowId: Column, centre: Column, salt: Int): Column = {
    val c = centre
    transform(sequence(lit(0), lit(Gen.Dim - 1)), k =>
      (gauss(90, c, k) + gauss(salt, rowId, k) * 0.35).cast("float")).as("embedding")
  }
}

object Gen {
  val Dim = 64

  val Vocab: Seq[String] = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "key", "window", "row", "table", "stream", "merge", "data", "join",
    "vector", "customer", "big", "the", "a", "index", "shard", "token", "corpus",
    "model", "train", "eval", "cache", "plan", "stage", "task", "shuffle", "spill",
    "frame", "verb", "result", "sample", "score", "rank", "dedup", "cluster", "graph",
    "label", "pair", "band", "sketch", "bloom", "range", "session", "event", "write",
    "read", "file", "parquet")
}
