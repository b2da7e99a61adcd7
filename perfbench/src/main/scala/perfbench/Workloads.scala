package perfbench

import java.nio.file.Path
import scala.collection.mutable.{ArrayBuffer, HashSet}
import scala.util.chaining._

/** Workload sizes: `full` for measuring, `tiny` for the self-test. */
final case class Sizes(vocab: Int, ragDocs: Int, knnDocs: Int, knnWords: (Int, Int),
                       knnQueries: Int, ingestDocs: Int, setupReps: Int)

object Sizes {
  val full = Sizes(vocab = 50000, ragDocs = 400, knnDocs = 1500, knnWords = (100, 100),
    knnQueries = 128, ingestDocs = 200, setupReps = 3)
  val tiny = Sizes(vocab = 500, ragDocs = 6, knnDocs = 30, knnWords = (5, 20),
    knnQueries = 4, ingestDocs = 4, setupReps = 2)
}

/** One client action and the answer it must get. */
sealed trait Step
/** GET /load-documents of `dir`: `chunks` input chunks, `novel` of them new. */
final case class Load(dir: Path, chunks: Int, novel: Seq[String]) extends Step
/** POST /add of `text`, which is stored iff `novel`. */
final case class Add(text: String, novel: Boolean) extends Step
/** POST /search. `visible` = store size when sent; `quoted` = the known top 1. */
final case class Query(text: String, k: Int, visible: Int, quoted: Option[String]) extends Step
/** Engine.searchAll; `quoted` maps query positions to their known top 1. */
final case class Batch(texts: Seq[String], k: Int, visible: Int,
                       quoted: Map[Int, String]) extends Step

/** A workload's inputs, generated from the seed. The generator keeps the
  * expected store contents (`model`: distinct chunk texts, in the order
  * they were first sent), which every answer is checked against.
  */
abstract class Workload(seed: Long, val sizes: Sizes, inputs: Path) {
  /** The read operation `search_p50_ms` times. */
  def readKind: String

  protected val vocab = new Vocab(seed, sizes.vocab)
  protected val corpusGen: Gen = vocab.stream(seed, 1)
  protected val gen: Gen = vocab.stream(seed, 2)

  val model = ArrayBuffer.empty[String]
  private val modelSet = HashSet.empty[String]
  private var dirs = 0

  /** Chunks of `texts` not yet in the model; they become part of it. */
  protected def store(texts: Seq[String]): Seq[String] =
    texts.flatMap(Gen.chunksOf).filter(modelSet.add).tap(model ++= _)

  protected def loadOf(docs: Seq[(String, String)]): Load = {
    dirs += 1
    val dir = Gen.writeDir(inputs.resolve(f"batch-$dirs%04d"), docs)
    Load(dir, docs.map(d => Gen.chunksOf(d._2).size).sum, store(docs.map(_._2)))
  }

  protected def storedChunk(): String = model(gen.nextInt(model.size))

  protected def setupDocs: Seq[(String, String)]

  /** The set-up corpus, written once and loaded by every set-up. */
  lazy val setup: Load = loadOf(setupDocs)

  /** The next step of the measured window. */
  def next(): Step

  /** Whether the window may end before the next step: a workload made of
    * rounds ends on a whole round, so every run has the same mix.
    */
  def atBoundary: Boolean = true

  /** Steps after the window that check idempotent writes. */
  def extra(): Seq[Step] = Nil

  // inputs of the coverage steps the traced run adds for operation
  // kinds a workload does not exercise itself
  def coverQuery(): Query = Query(gen.keywordQuery(), 5, model.size, None)
  def coverBatch(): Batch =
    Batch(Seq.fill(8)(gen.keywordQuery()), 10, model.size, Map.empty)
  def coverAdds(): Seq[Step] = {
    val text = gen.doc(1)
    Seq(Add(text, store(Seq(text)).nonEmpty), Add(storedChunk(), novel = false))
  }
  def coverLoad(): Load = loadOf(Seq.fill(2)(("c" + gen.nextInt(1 << 30), gen.doc())))
}

/** POST /search {query, k=5} over a preloaded store: per-request fixed
  * cost (planning, the store probe, the enrich scan, the second pipeline
  * for `answer`) dominates.
  */
final class RagServe(seed: Long, sizes: Sizes, inputs: Path)
    extends Workload(seed, sizes, inputs) {
  val readKind = "search"
  protected def setupDocs: Seq[(String, String)] =
    (0 until sizes.ragDocs).map(i => (f"doc-$i%05d", corpusGen.doc(1 + i % 4)))

  /** Half Zipf keyword queries, half exact stored chunk texts. */
  def next(): Step =
    if (gen.nextInt(2) == 0) Query(gen.keywordQuery(), 5, model.size, None)
    else { val c = storedChunk(); Query(c, 5, model.size, Some(c)) }
}

/** Engine.searchAll(Q queries, k=10) over many short passages: the
  * scoring kernel and the per-query ranking shuffle dominate.
  */
final class KnnBatch(seed: Long, sizes: Sizes, inputs: Path)
    extends Workload(seed, sizes, inputs) {
  val readKind = "search_all"
  protected def setupDocs: Seq[(String, String)] =
    (0 until sizes.knnDocs).map(i =>
      (f"psg-$i%05d", corpusGen.passage(sizes.knnWords._1, sizes.knnWords._2)))

  /** Keyword queries; every eighth is an exact stored passage. */
  def next(): Step = {
    val quoted = (0 until sizes.knnQueries by 8).map(i => i -> storedChunk()).toMap
    Batch((0 until sizes.knnQueries).map(i => quoted.getOrElse(i, gen.keywordQuery())),
      10, model.size, quoted)
  }
}

/** Writes beside reads, in rounds: a fresh batch of 8 documents of 1, 1,
  * 2, 2, 3, 3, 4 and 4 chunks, of which a 1-chunk and a 4-chunk one are
  * copies of stored documents (5 of 20 chunks already stored); one new
  * and one stored /add; then three searches, the first of which quotes a
  * chunk the batch just stored.
  */
final class IngestMixed(seed: Long, sizes: Sizes, inputs: Path)
    extends Workload(seed, sizes, inputs) {
  val readKind = "search"
  // stored documents by chunk count, the pool copies are drawn from
  private val stored = (1 to 4).map(_ -> ArrayBuffer.empty[String]).toMap
  private var lastLoad: Option[Load] = None
  private var rounds = 0
  private val round = scala.collection.mutable.Queue.empty[() => Step]

  protected def setupDocs: Seq[(String, String)] =
    (0 until sizes.ingestDocs).map { i =>
      val c = 1 + i % 4
      (f"doc-$i%05d", corpusGen.doc(c).tap(stored(c) += _))
    }

  private def batch(): Load = {
    rounds += 1
    def copy(c: Int) = stored(c)(gen.nextInt(stored(c).size))
    val docs = copy(1) +: Seq(1, 2, 2, 3, 3, 4).map(c => gen.doc(c)) :+ copy(4)
    Seq(1, 2, 2, 3, 3, 4).zip(docs.slice(1, 7)).foreach { case (c, d) => stored(c) += d }
    val order = docs.indices.sortBy(_ => gen.nextDouble())
    loadOf(order.map(i => (f"round-$rounds%04d-$i%02d", docs(i))))
      .tap(l => lastLoad = Some(l))
  }

  def next(): Step = {
    if (round.isEmpty) {
      round += (() => batch())
      round += (() => { val t = gen.doc(1); Add(t, store(Seq(t)).nonEmpty) })
      round += (() => Add(storedChunk(), novel = false))
      round += (() => {
        val novel = lastLoad.map(_.novel).getOrElse(Nil)
        val c = if (novel.nonEmpty) novel(gen.nextInt(novel.size)) else storedChunk()
        Query(c, 5, model.size, Some(c))
      })
      for (_ <- 0 until 2) round += (() =>
        if (gen.nextInt(2) == 0) Query(gen.keywordQuery(), 5, model.size, None)
        else { val c = storedChunk(); Query(c, 5, model.size, Some(c)) })
    }
    round.dequeue()()
  }

  override def atBoundary: Boolean = round.isEmpty

  /** Re-loading the last batch must store nothing. */
  override def extra(): Seq[Step] =
    Seq(Load(lastLoad.getOrElse(setup).dir, lastLoad.getOrElse(setup).chunks, Nil))
}

object Workload {
  val names = Seq("rag_serve", "knn_batch", "ingest_mixed")
  def apply(name: String, seed: Long, sizes: Sizes, inputs: Path): Workload = name match {
    case "rag_serve" => new RagServe(seed, sizes, inputs)
    case "knn_batch" => new KnnBatch(seed, sizes, inputs)
    case "ingest_mixed" => new IngestMixed(seed, sizes, inputs)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}
