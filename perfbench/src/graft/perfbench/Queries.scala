package graft.perfbench

import graft.corpus.SynthWebText

/** SplitMix64: the benchmark's own seeded stream, independent of the
  * corpus generator's private one.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
}

/** One serving-tier request. `cls` names its latency class. */
sealed trait Query {
  def cls: String
  def key: String = s"$cls:$toString"
}
final case class TermQ(text: String) extends Query { def cls = "term" }
final case class ConjQ(text: String, exclude: String) extends Query { def cls = "conj" }
final case class PhraseQ(text: String) extends Query { def cls = "phrase" }
final case class PatternQ(patterns: Seq[String]) extends Query { def cls = "pattern" }
final case class RegexQ(pattern: String) extends Query { def cls = "regex" }

/** The seeded `serve` query mix: term ranks drawn from the corpus's own
  * Zipf(1.1); phrases are adjacent word pairs cut from generated pages, plus
  * the planted markers.
  */
object Queries {

  private lazy val zipfCum: Array[Double] = {
    val w = new Array[Double](SynthWebText.VocabSize)
    var sum = 0.0
    var i = 0
    while (i < w.length) { sum += 1.0 / math.pow(i + 1.0, SynthWebText.ZipfS); w(i) = sum; i += 1 }
    w.map(_ / sum)
  }

  def zipfRank(rng: Rng): Int = {
    val u = rng.nextDouble()
    var lo = 0
    var hi = zipfCum.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (zipfCum(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def zipfTerm(rng: Rng): String = SynthWebText.term(zipfRank(rng))
  private def terms(rng: Rng, n: Int): String = Seq.fill(n)(zipfTerm(rng)).mkString(" ")

  private def isWord(w: String): Boolean =
    w.nonEmpty && w.forall(c => c.isLetterOrDigit && c < 128)

  /** An adjacent word pair of a generated page, both words inside one
    * sentence, exactly as the text spells them.
    */
  private def phrase(rng: Rng, nDocs: Int, corpusSeed: Long): String = {
    if (rng.nextInt(5) == 0) return SynthWebText.Markers(rng.nextInt(SynthWebText.Markers.length))
    val words = SynthWebText.page(rng.nextInt(nDocs).toLong, corpusSeed).text.split(" ")
    var i = rng.nextInt(words.length - 1)
    while (!(isWord(words(i)) && isWord(words(i + 1)))) i = (i + 1) % (words.length - 1)
    s"${words(i)} ${words(i + 1)}"
  }

  /** The mix, in exact shares and a seeded order: of every 20 queries, 14
    * disjunctive (1-4 terms), 2 conjunctive (half with an excluded term),
    * 2 phrase, 1 multi-pattern, 1 regex. Exact shares keep the mix, and
    * with it the throughput, from drifting with the seed.
    */
  def pool(seed: Long, size: Int, nDocs: Int): IndexedSeq[Query] = {
    val rng = new Rng(seed ^ 0x5eed5eedL)
    val slots = Array.tabulate(size)(_ % 20)
    for (i <- slots.indices.reverse.dropRight(1)) {
      val j = rng.nextInt(i + 1)
      val t = slots(i); slots(i) = slots(j); slots(j) = t
    }
    slots.toIndexedSeq.map { s =>
      if (s < 14) TermQ(terms(rng, 1 + rng.nextInt(4)))
      else if (s < 16) ConjQ(terms(rng, 2), if (s == 14) zipfTerm(rng) else "")
      else if (s < 18) PhraseQ(phrase(rng, nDocs, seed))
      else if (s < 19) PatternQ(Seq.fill(2)(zipfTerm(rng).dropRight(1)))
      else {
        val t = zipfTerm(rng)
        RegexQ(s"^${t.take(4)}[a-z]*${t.last}$$")
      }
    }
  }

  /** Client `c`'s request sequence: indexes into the pool. */
  def stream(seed: Long, client: Int, poolSize: Int): Iterator[Int] = {
    val rng = new Rng(seed * 31 + client)
    Iterator.continually(rng.nextInt(poolSize))
  }
}
