package perfbench

import java.util.SplittableRandom

/** Seeded, stateless randomness: every draw is keyed by the run seed
  * plus the identity of what is drawn (league, game, cycle, doc), so
  * any input can be regenerated on demand without keeping history. */
object Rng {
  private def smix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def key(xs: Long*): Long =
    xs.foldLeft(0x9E3779B97F4A7C15L)((h, x) => smix(h ^ smix(x + 0x632BE59BD9B4E019L)))

  def apply(xs: Long*): SplittableRandom = new SplittableRandom(key(xs: _*))

  private val consonants = "bdfgklmnprstvz"
  private val vowels = "aeiou"
  val Syllables: IndexedSeq[String] =
    for (c <- consonants; v <- vowels) yield s"$c$v"

  /** `digits` syllables encoding `n` in base |Syllables|: distinct n
    * give distinct words, and the words are lowercase letters only. */
  def word(n: Long, digits: Int): String = {
    val b = Syllables.size
    val sb = new StringBuilder
    var x = n
    for (_ <- 0 until digits) { sb.insert(0, Syllables((x % b).toInt)); x /= b }
    sb.toString
  }

  def capital(s: String): String = s.head.toUpper.toString + s.tail
}
