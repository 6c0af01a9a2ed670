package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** The workloads. Each owns its inputs directory under the run's work
  * directory and derives every input and every op from the seed. */
object Workloads {
  val names = Seq("relational", "corpus_batch")

  trait Workload {
    def inputs: String
    def generate(): Unit
    def inputRows: Map[String, Long]
    /** Set-up after generation (index build, certificates). */
    def prepare(): Unit = ()
    def warmup(): Seq[Op]
    def sequence(n: Int): Seq[Op]
    def run(op: Op): Result
    /** False for an op that continues a unit of work already started (a
      * round of op kinds, a corpus batch): the client only stops before a
      * unit's first op, so every run measures whole units. */
    def startsUnit(op: Op): Boolean = true
    /** Traced runs only, outside the op's timing. */
    def afterTraced(op: Op): Unit = ()
    def finish(): Unit = ()
  }

  def apply(name: String, spark: SparkSession, seed: Long, work: String): Workload = name match {
    case "relational" => new RelationalWorkload(spark, seed, work)
    case "corpus_batch" => new CorpusWorkload(spark, seed, work)
  }

  final class RelationalWorkload(spark: SparkSession, seed: Long, work: String) extends Workload {
    private val kinds = Relational.Kinds
    val inputs = s"$work/inputs"
    private val writes = s"$work/writes"
    private var sizes: Map[String, Long] = Map.empty
    private lazy val rel = new Relational(spark, inputs, sizes, writes)

    def generate(): Unit = sizes = new Gen(spark, seed).relational(inputs)
    def inputRows: Map[String, Long] = sizes

    override def startsUnit(op: Op): Boolean = op.kind == kinds.head

    def warmup(): Seq[Op] = {
      val rnd = new SplittableRandom(seed ^ 0x5eedL)
      kinds.map(k => Op(k, Relational.params(k, rnd, warm = true)))
    }

    /** Rounds of one op of every kind, in a fixed order; the seed draws
      * each op's parameters. */
    def sequence(n: Int): Seq[Op] = {
      val rnd = new SplittableRandom(seed)
      Iterator.continually(kinds).flatten.take(n).map(k => Op(k, Relational.params(k, rnd))).toSeq
    }

    def run(op: Op): Result = rel.run(op)

    override def finish(): Unit = Checks.deleteTree(new File(writes))
  }

  /** 20 batches of 1,000 documents and 400 vectors (20k docs, 8k
    * vectors in all), 8 query vectors per batch. */
  final class CorpusWorkload(spark: SparkSession, seed: Long, work: String) extends Workload {
    val Batches = 20
    val DocsPerBatch = 1000
    val VecsPerBatch = 400
    val QueriesPerBatch = 8
    val inputs = s"$work/inputs"
    private val index = s"$work/ann_index"
    private var rows: Map[String, Long] = Map.empty
    private var corpus: Corpus = _
    private var current: Corpus#Batch = _

    def generate(): Unit = {
      val g = new Gen(spark, seed)
      rows = Map(
        "documents" -> g.documents(s"$inputs/documents", Batches, DocsPerBatch),
        "embeddings" -> g.embeddings(s"$inputs/embeddings", Batches, VecsPerBatch),
        "queries" -> g.queries(s"$inputs/queries", Batches, QueriesPerBatch))
    }
    def inputRows: Map[String, Long] = rows

    override def prepare(): Unit = {
      Checks.deleteTree(new File(index))
      corpus = new Corpus(spark, inputs, index, DocsPerBatch, VecsPerBatch)
      corpus.buildIndex()
    }

    private def batches(rnd: SplittableRandom, n: Int): Seq[Op] =
      (0 until n).flatMap { s =>
        val b = rnd.nextInt(Batches).toLong
        Corpus.Stages.map(st => Op(st, Map("batch" -> b, "seq" -> s.toLong)))
      }

    /** No warm-up: a batch job pays its cold start on every run, so the
      * first batch of the window is measured cold, the same way each run. */
    def warmup(): Seq[Op] = Nil

    def sequence(n: Int): Seq[Op] =
      batches(new SplittableRandom(seed), (n + Corpus.Stages.size - 1) / Corpus.Stages.size).take(n)

    override def startsUnit(op: Op): Boolean = op.kind == Corpus.Stages.head

    def run(op: Op): Result = {
      if (op.kind == Corpus.Stages.head) {
        if (current != null) current.release()
        current = corpus.batch(op("batch").toInt, new SplittableRandom(seed * 31 + op("seq")))
      }
      corpus.run(op.kind, current)
    }

    override def afterTraced(op: Op): Unit =
      if (op.kind == Corpus.Stages.last) corpus.kernels(current, seed + op("seq"))

    override def finish(): Unit = if (current != null) current.release()
  }
}
