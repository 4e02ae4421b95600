package graft.perfbench

import java.security.MessageDigest

import graft.corpus.SynthWebText
import graft.query.ScoredDoc

/** The benchmark's own checks that need no Spark session: seeded inputs
  * are reproducible and seed-dependent, and a wrong answer is counted.
  * Prints `selftest ok` and exits 0, or throws. Run by
  * perfbench/test_perfbench.py.
  */
object SelfTest {

  private def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\u0000").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def corpusChecksum(seed: Long): String =
    digest((0 until 200).iterator.map(i => SynthWebText.page(i.toLong, seed))
      .map(p => s"${p.url}\t${p.text}"))

  def queryStreamChecksum(seed: Long): String = {
    val pool = Queries.pool(seed, 64, 200)
    digest(pool.iterator.map(_.key) ++ (0 until 4).iterator.flatMap(c =>
      Queries.stream(seed, c, pool.size).take(100).map(_.toString)))
  }

  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    expect(corpusChecksum(7) == corpusChecksum(7), "same seed, different corpus")
    expect(corpusChecksum(7) != corpusChecksum(8), "different seed, same corpus")
    expect(queryStreamChecksum(7) == queryStreamChecksum(7), "same seed, different query stream")
    expect(queryStreamChecksum(7) != queryStreamChecksum(8), "different seed, same query stream")

    val right = Array(ScoredDoc(1L, 2.5), ScoredDoc(3L, 1.25))
    val rep = new Report("selftest")
    Seq(right.clone(),
      Array(ScoredDoc(1L, 2.5), ScoredDoc(4L, 1.25)),
      Array(ScoredDoc(1L, 2.5), ScoredDoc(3L, Math.nextUp(1.25))),
      right.take(1)).foreach { got =>
      rep.attempted.incrementAndGet()
      rep.check(Serve.sameAnswer(right, got), s"answer ${got.toSeq}")
    }
    expect(rep.attempted.get == 4 && rep.failed.get == 3,
      s"checker counted ${rep.failed.get} of 3 wrong answers")
    expect(rep.json.contains("\"failed\":3"), "failed count missing from the report")
    println("selftest ok")
  }
}
