package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded curation corpus with planted duplicates.
  *
  * Documents arrive in batches of `batchSize` consecutive ids. Batch 0
  * is all unique; in later batches 70% of docs are unique and the rest
  * are planted duplicates of a unique doc from an EARLIER batch, one
  * kind per stage of the curation chain:
  *  - exact: the same text and embedding;
  *  - lexical: the original's text with its last word changed (3-gram
  *    Jaccard 57/59) and its embedding nudged;
  *  - semantic: fresh unrelated text, the original's embedding nudged
  *    (cosine about 0.9996).
  * Unique docs are 60 random words from a 4000-word vocabulary and an
  * embedding of half a centroid plus noise, so two unique docs in one
  * cell sit near cosine 0.2 and never reach the 0.95 semantic bar. The
  * originals of semantic duplicates are drawn from docs whose nearest
  * centroid wins by a clear margin, so a nudged copy routes to the
  * same cell. Everything is a pure function of (seed, id): the
  * generator keeps no corpus in memory. */
final class CorpusGen(seed: Long, val batchSize: Int) {
  import CorpusGen._

  private val Vocab = 4000
  private val Words = 60
  val Dim = 64
  val Cells = 16

  /** Orthonormal centroids (Gram-Schmidt over seeded gaussians). */
  val centroids: IndexedSeq[Array[Double]] = {
    val r = Rng(seed, 30)
    val out = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    while (out.size < Cells) {
      val v = Array.fill(Dim)(r.nextDouble() * 2 - 1)
      out.foreach { c =>
        val d = dot(v, c)
        for (i <- v.indices) v(i) -= d * c(i)
      }
      val n = math.sqrt(dot(v, v))
      if (n > 1e-3) out += v.map(_ / n)
    }
    out.toIndexedSeq
  }

  def role(id: Long): Role =
    if (id < batchSize) Unique
    else {
      val x = Rng(seed, 20, id).nextDouble()
      if (x < 0.7) Unique else if (x < 0.8) Exact else if (x < 0.9) Lexical else Semantic
    }

  private def gauss(r: java.util.SplittableRandom): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def uniqueEmbedding(id: Long): Array[Double] = {
    val r = Rng(seed, 23, id)
    val c = centroids(r.nextInt(Cells))
    Array.tabulate(Dim)(i => 0.5 * c(i) + gauss(r) / 8)
  }

  private def cellMargin(v: Array[Double]): Double = {
    val s = centroids.map(dot(v, _)).sorted
    s(Cells - 1) - s(Cells - 2)
  }

  /** The unique doc a planted duplicate copies. */
  def original(id: Long): Long = {
    val r = Rng(seed, 22, id)
    val before = (id / batchSize) * batchSize
    var o = r.nextLong(before)
    while (role(o) != Unique ||
      (role(id) == Semantic && cellMargin(uniqueEmbedding(o)) < 0.15))
      o = r.nextLong(before)
    o
  }

  private def words(id: Long): IndexedSeq[Int] = {
    val r = Rng(seed, 21, id)
    IndexedSeq.fill(Words)(r.nextInt(Vocab))
  }

  private def render(ws: Seq[Int]): String = ws.map(w => Rng.word(w, 3)).mkString(" ")

  def text(id: Long): String = role(id) match {
    case Unique | Semantic => render(words(id))
    case Exact => text(original(id))
    case Lexical =>
      val ws = words(original(id))
      val swap = (ws.last + 1 + Rng(seed, 24, id).nextInt(Vocab - 1)) % Vocab
      render(ws.init :+ swap)
  }

  def embedding(id: Long): Array[Float] = {
    val v = role(id) match {
      case Unique => uniqueEmbedding(id)
      case Exact => uniqueEmbedding(original(id))
      case Lexical | Semantic =>
        val r = Rng(seed, 25, id)
        uniqueEmbedding(original(id)).map(x => x + gauss(r) * 0.004)
    }
    v.map(_.toFloat)
  }

  def ids(b: Int): Seq[Long] = (b.toLong * batchSize) until ((b + 1).toLong * batchSize)

  /** Batch `b` as JSON lines (doc_id, text, embedding). */
  def write(b: Int, file: Path): Unit = {
    val sb = new StringBuilder
    ids(b).foreach { id =>
      sb ++= s"""{"doc_id":$id,"text":"${text(id)}","embedding":["""
      sb ++= embedding(id).map(java.lang.Float.toString).mkString(",")
      sb ++= "]}\n"
    }
    Files.createDirectories(file.getParent)
    Files.write(file, sb.toString.getBytes(UTF_8))
  }
}

object CorpusGen {
  sealed trait Role
  case object Unique extends Role
  case object Exact extends Role
  case object Lexical extends Role
  case object Semantic extends Role

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}
