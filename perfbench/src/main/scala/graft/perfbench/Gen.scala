package graft.perfbench

import scala.util.Random

/** Seeded input building blocks. Everything derives from one `Random`, so
  * the same seed gives the same inputs byte for byte; `salt` keeps the
  * workloads' streams apart. */
final class Gen(seed: Long, salt: Long) {
  val rnd = new Random(seed * 1000003L + salt)

  /** A vocabulary of distinct lowercase pseudo-words, 5 to 9 letters long
    * (no digits, so the numeric normaliser leaves them alone). */
  def vocabulary(n: Int): IndexedSeq[String] = {
    val consonants = "bcdfghjklmnprstvwz"
    val vowels = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val len = 5 + rnd.nextInt(5)
      val sb = new StringBuilder
      (0 until len).foreach { i =>
        val pool = if (i % 2 == 0) consonants else vowels
        sb += pool.charAt(rnd.nextInt(pool.length))
      }
      seen += sb.toString
    }
    seen.toIndexedSeq
  }

  /** `n` words of random prose: vocabulary words with a stopword at the
    * fourth position and about one word in twelve after it. */
  def prose(vocab: IndexedSeq[String], n: Int): Vector[String] =
    Vector.tabulate(n) { i =>
      if (i == 3 || (i > 3 && rnd.nextInt(12) == 0)) Gen.stopwords(rnd.nextInt(Gen.stopwords.size))
      else vocab(rnd.nextInt(vocab.size))
    }

  /** `words` with `k` positions replaced by other vocabulary words. */
  def variant(vocab: IndexedSeq[String], words: Vector[String], k: Int): Vector[String] =
    rnd.shuffle(words.indices.toVector).take(k).foldLeft(words) { (w, i) =>
      var other = vocab(rnd.nextInt(vocab.size))
      while (other == w(i)) other = vocab(rnd.nextInt(vocab.size))
      w.updated(i, other)
    }
}

object Gen {
  /** Function words the quality gate looks for; prose carries a few. */
  val stopwords: Seq[String] = Seq("the", "and", "of", "to", "in", "for", "with", "on")
}

/** Plain-Scala reference answers, computed without graft. The generated
  * texts are lowercase words joined by single spaces, so graft's text
  * normalisation leaves them as they are. */
object Truth {

  /** Distinct word `n`-grams of `text` (the whole text if it is shorter). */
  def shingles(text: String, n: Int): Set[String] = {
    val w = text.split(" ").toVector
    if (w.size <= n) Set(w.mkString(" ")) else w.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size
}
