package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generator. Everything the program receives (document
  * files, /add bodies, query strings) comes from here, and the same seed
  * gives the same inputs byte for byte.
  *
  * Text is drawn from a Zipf(s = 1.07) vocabulary of random lowercase
  * words, so keyword queries mix frequent and rare terms. Each purpose
  * (corpus, queries, ingest rounds) draws from its own stream, so how
  * many queries a run gets through never shifts the documents it loads.
  */
final class Vocab(seed: Long, size: Int) {
  val words: Array[String] = {
    val rng = new SplittableRandom(seed)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val len = 3 + rng.nextInt(7)
      seen += Array.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  private val cdf: Array[Double] = {
    val c = Array.tabulate(size)(i => 1.0 / math.pow(i + 1.0, 1.07))
      .scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  def draw(rng: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    words(math.min(if (i >= 0) i else -i - 1, size - 1))
  }

  /** An independent generator; `stream` names its purpose. */
  def stream(seed: Long, stream: Int): Gen =
    new Gen(this, new SplittableRandom(seed * 1000003L + stream))
}

final class Gen(vocab: Vocab, rng: SplittableRandom) {
  import Gen.{ChunkWords, Stride}

  def words(n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(vocab.draw(rng)); i += 1
    }
    sb.toString
  }

  /** A document that chunks into exactly `chunks` windows. */
  def doc(chunks: Int): String = {
    val lo = if (chunks == 1) 1 else ChunkWords + (chunks - 2) * Stride + 1
    val hi = ChunkWords + (chunks - 1) * Stride
    words(lo + rng.nextInt(hi - lo + 1))
  }

  /** A document of 1 to 4 chunks, uniformly. */
  def doc(): String = doc(1 + rng.nextInt(4))

  /** A one-chunk passage of `lo` to `hi` words. */
  def passage(lo: Int, hi: Int): String = words(lo + rng.nextInt(hi - lo + 1))

  /** A keyword query of 2 to 6 Zipf words. */
  def keywordQuery(): String = words(2 + rng.nextInt(5))

  def nextInt(n: Int): Int = rng.nextInt(n)
  def nextDouble(): Double = rng.nextDouble()
}

object Gen {
  /** The reference's chunking (README.md:10): 1000 words, 50 overlap. */
  val ChunkWords = 1000
  val Overlap = 50
  val Stride: Int = ChunkWords - Overlap

  /** The reference chunker's windows of `text` (embed.js:183-207): the
    * chunk texts the program must store for a document.
    */
  def chunksOf(text: String): Seq[String] = {
    val ws = text.trim.split("\\s+")
    val n = 1 + math.max(0, ws.length - ChunkWords + Stride - 1) / Stride
    (0 until n).map(i =>
      ws.slice(i * Stride, i * Stride + ChunkWords).mkString(" "))
  }

  /** Writes `docs` as `<name>.txt` files into a fresh directory. */
  def writeDir(dir: Path, docs: Seq[(String, String)]): Path = {
    Files.createDirectories(dir)
    docs.foreach { case (name, text) =>
      Files.write(dir.resolve(name + ".txt"), text.getBytes(UTF_8))
    }
    dir
  }
}
