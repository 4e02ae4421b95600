package graft.query

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.SynthWebText
import graft.index.{IceTable, IndexBuilder, IndexConfig}
import graft.krep.{KrepMatcher, KrepParams}
import graft.streaming.StreamingIndexer

/** Differential spec of the two [[TermDict]] implementations over one
  * appended index (a batch-built base plus two appended dict deltas, so a
  * term's df is a sum over files): the driver-resident dict and the
  * scan-backed one must give the same lookups, expansions, hot terms and
  * matching termIds, and expansion must equal the term → (termId, df) map
  * algorithm the engine used before the dict was shared (kept here as the
  * oracle).
  */
class TermDictSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val cfg = IndexConfig(blockSize = 32, docsPerSegment = 128, partitions = 2)

  private lazy val (ice, dictDf): (IceTable, DataFrame) = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-termdict-").toString
    new IndexBuilder(spark, root, cfg)
      .build(spark.range(0L, 600L, 1, 2).map(i => SynthWebText.page(i)))
    val indexer = new StreamingIndexer(spark, root, cfg)
    Seq((600L, 900L), (900L, 1200L)).foreach { case (lo, hi) =>
      indexer.appendBatch(spark.range(lo, hi, 1, 2).map(i => SynthWebText.page(i)))
    }
    val ice = new IceTable(root, spark.sparkContext.hadoopConfiguration)
    (ice, ice.readSteps(spark, ice.completedSteps, "dict").cache())
  }
  private lazy val resident = TermDict.Resident.load(dictDf)
  private lazy val scanned = new TermDict.Scanned(dictDf)

  /** term → (termId, summed df), merged the way the engine's map did. */
  private lazy val oracle: Map[String, (Long, Long)] = {
    val m = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    dictDf.select("term", "termId", "df").collect().foreach { r =>
      val t = r.getString(0)
      m.get(t) match {
        case Some((id, df)) => m(t) = (id, df + r.getLong(2))
        case None => m(t) = (r.getLong(1), r.getLong(2))
      }
    }
    m.toMap
  }

  private def oracleExpand(params: KrepParams, maxExpand: Int): Seq[String] = {
    val m = new KrepMatcher(params)
    oracle.iterator.collect {
      case (t, (_, df)) if m.contains(UTF8String.fromString(t)) => (t, df)
    }.toArray.sortBy { case (t, df) => (-df, t) }.take(maxExpand)
      .map(_._1).distinct.sorted.toSeq
  }

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))

  private lazy val terms: IndexedSeq[String] = oracle.keys.toIndexedSeq.sorted

  /** Literal patterns: substrings of dict terms (hits), plus syllable and
    * digit runs that may match nothing.
    */
  private lazy val literalGen: Gen[String] = Gen.oneOf(
    for {
      t <- Gen.oneOf(terms)
      from <- Gen.choose(0, t.length - 1)
      len <- Gen.choose(1, math.min(5, t.length - from))
    } yield t.substring(from, from + len),
    Gen.listOfN(2, Gen.oneOf("ver", "ba", "min", "zz", "q", "7", "0")).map(_.mkString))

  private lazy val regexGen: Gen[String] = Gen.oneOf(
    Gen.oneOf(terms).map(t => "^" + t.take(3)),
    Gen.choose(2, 9).map(n => s"^[a-z]{$n}$$"),
    Gen.oneOf("ver", "ba", "min", "tal", "so").map(s => s"$s[0-9]+$$"),
    Gen.listOfN(2, Gen.oneOf("ver", "ba", "min", "tal", "so", "tu"))
      .map(ss => s"^(${ss.mkString("|")})[a-z]*[0-9]$$"))

  private val capGen: Gen[Int] = Gen.oneOf(1, 3, 20, 1024)

  test("the fixture dict is appended: some terms span files, df sums across them") {
    assert(dictDf.count() > oracle.size, "expected terms repeated across dict deltas")
    assert(oracle.size > TermDict.HotTermCap, "the hot-cap case needs a bigger dict")
    assert(resident.size == oracle.size)
  }

  test("lookup: resident == scan-backed == oracle, absent and multibyte terms included") {
    val probe = (sample(Gen.oneOf(terms), 40, 1L) ++
      Seq(SynthWebText.term(0), "zzzqqqxxxnotaword", "café", "中文", "", "VER")).toArray
    val want = probe.map(oracle.get).toSeq
    assert(resident.lookup(probe).toSeq == want)
    assert(scanned.lookup(probe).toSeq == want)
    // every term round-trips through the byte-ordered binary search
    assert(resident.lookup(terms.toArray).toSeq == terms.map(oracle.get))
  }

  test("expand of literal patterns (both cases) == oracle, cut at the same top-k") {
    val cases = sample(for {
      ps <- Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, literalGen))
      ci <- Gen.oneOf(true, false)
      cap <- capGen
    } yield (if (ci) ps.map(_.toUpperCase) else ps, ci, cap), 24, 2L)
    cases.foreach { case (ps, ci, cap) =>
      val params = KrepParams(ps, caseSensitive = !ci)
      val want = oracleExpand(params, cap)
      assert(resident.expand(params, cap).toSeq == want, s"resident $ps ci=$ci cap=$cap")
      assert(scanned.expand(params, cap).toSeq == want, s"scanned $ps ci=$ci cap=$cap")
    }
    assert(cases.exists { case (ps, ci, cap) =>
      oracleExpand(KrepParams(ps, caseSensitive = !ci), Int.MaxValue).length > cap
    }, "no generated case reached its cap")
  }

  test("expand of regexes (both cases) == oracle") {
    val cases = sample(for {
      r <- regexGen
      ci <- Gen.oneOf(true, false)
      cap <- capGen
    } yield (if (ci) r.toUpperCase.replace("A-Z", "a-z") else r, ci, cap), 16, 3L)
    cases.foreach { case (r, ci, cap) =>
      val params = KrepParams(Seq(r), caseSensitive = !ci, regex = true,
        overlapping = false)
      val want = oracleExpand(params, cap)
      assert(resident.expand(params, cap).toSeq == want, s"resident /$r/ ci=$ci cap=$cap")
      assert(scanned.expand(params, cap).toSeq == want, s"scanned /$r/ ci=$ci cap=$cap")
    }
  }

  test("anchoredPrefix: the literal run after ^, less a quantified last char") {
    def pre(r: String, cs: Boolean = true, ww: Boolean = false): Option[String] =
      TermDict.anchoredPrefix(KrepParams(Seq(r), caseSensitive = cs, wholeWord = ww,
        regex = true, overlapping = false))
    assert(pre("^abc[a-z]*1$") == Some("abc"))
    assert(pre("^abc") == Some("abc"))
    Seq("^ab*", "^ab?c", "^ab{0,1}", "^ab+", "^ab+?").foreach(r => assert(pre(r) == Some("a"), r))
    Seq("^a*", "^ab|cd", "^ab(?i)c", "^\\d", "^$", "^", "abc", "a^b")
      .foreach(r => assert(pre(r).isEmpty, r))
    assert(pre("^abc", cs = false).isEmpty)
    assert(pre("^abc", ww = true).isEmpty)
    assert(TermDict.anchoredPrefix(KrepParams(Seq("^ab", "^cd"), regex = true)).isEmpty)
    assert(TermDict.anchoredPrefix(KrepParams(Seq("^ab"))).isEmpty)
  }

  /** The resident expansion before prefix ranges and the trigram index:
    * the matcher over every merged term in term order, then the df cut (a
    * stable sort keeps term order among equal dfs).
    */
  private def fullScanExpand(params: KrepParams, maxExpand: Int): Seq[String] = {
    val m = new KrepMatcher(params)
    val hit = terms.filter(t => m.contains(UTF8String.fromString(t)))
    val cut =
      if (hit.length <= maxExpand) hit
      else hit.sortBy(t => -oracle(t)._2).take(maxExpand)
    cut.sorted
  }

  test("expand of anchored regexes == a full scan, prefix range or not") {
    val long = terms.filter(_.length >= 3)
    val anchored: Gen[String] = Gen.oneOf(long).flatMap { t =>
      val (a, b, c) = (t(0), t(1), t(2))
      Gen.oneOf(s"^$a$b*", s"^$a$b?$c", s"^$a$b{0,1}", s"^$a$b+", s"^$a$b|$c$a",
        s"^$a$b(?i)$c", "^\\d", "^$", "^zzqqxnotaprefix", "^.*", s"^$t",
        s"^${t.take(3)}[a-z]*[0-9]$$", s"^${terms.head}", s"^${terms.last}",
        s"^${t.take(2)}")
    }
    val cases = sample(for {
      r <- anchored
      cs <- Gen.oneOf(true, false)
      ww <- Gen.oneOf(true, false)
      cap <- capGen
    } yield (r, cs, ww, cap), 120, 5L)
    var ranged = 0
    cases.foreach { case (r, cs, ww, cap) =>
      val params = KrepParams(Seq(r), caseSensitive = cs, wholeWord = ww,
        regex = true, overlapping = false)
      val want = fullScanExpand(params, cap)
      assert(resident.expand(params, cap).toSeq == want, s"/$r/ cs=$cs ww=$ww cap=$cap")
      if (TermDict.anchoredPrefix(params).isDefined && want.nonEmpty) ranged += 1
    }
    assert(ranged > 10, s"only $ranged cases took a non-empty prefix range")
    // a malformed regex fails as on a full scan, although no term is in
    // its prefix range
    intercept[java.util.regex.PatternSyntaxException](
      resident.expand(KrepParams(Seq("^zzqqx["), regex = true), 10))
  }

  /** Patterns of 0–8 UTF-8 bytes: dict-term substrings (hits), their
    * upper-cased variants, multibyte UTF-8 and random ASCII bytes.
    */
  private lazy val byteLenGen: Gen[String] = Gen.choose(0, 8).flatMap { len =>
    val sub = Gen.oneOf(terms.filter(_.length >= len)).flatMap(t =>
      Gen.choose(0, t.length - len).map(f => t.substring(f, f + len)))
    val multibyte = Gen.listOfN(len, Gen.oneOf('a', 'e', 'r', 'é', 'ß', '中', '€'))
      .map(cs => cs.scanLeft("")(_ + _).takeWhile(_.getBytes(UTF_8).length <= len).last)
    val random = Gen.listOfN(len, Gen.choose(1, 127).map(_.toChar)).map(_.mkString)
    Gen.frequency(6 -> sub, 2 -> sub.map(_.toUpperCase), 1 -> multibyte, 1 -> random)
  }

  test("expand and matchingTermIds == a full scan, trigram path or not") {
    val cases = sample(for {
      ps <- Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, byteLenGen))
      cs <- Gen.oneOf(true, false)
      ww <- Gen.frequency(3 -> false, 1 -> true)
      mc <- Gen.frequency(5 -> Long.MaxValue, 1 -> 0L)
      cap <- capGen
    } yield (ps, cs, ww, mc, cap), 400, 6L)
    // just below and at the 3-byte threshold, alone and mixed
    val edge = terms.filter(_.length >= 4).take(40).flatMap { t =>
      Seq(Seq(t.take(2)), Seq(t.take(3)), Seq(t.substring(1, 4)), Seq(t.take(3), t.take(2)))
    }.map(ps => (ps, true, false, Long.MaxValue, 1024))
    var indexed, indexedHits, below = 0
    (cases ++ edge).foreach { case (ps, cs, ww, mc, cap) =>
      val params = KrepParams(ps, caseSensitive = cs, wholeWord = ww, maxCount = mc)
      val want = fullScanExpand(params, cap)
      assert(resident.expand(params, cap).toSeq == want,
        s"$ps cs=$cs ww=$ww maxCount=$mc cap=$cap")
      if (ps.forall(_.getBytes(UTF_8).length >= 3)) {
        indexed += 1
        if (want.nonEmpty) indexedHits += 1
      } else below += 1
    }
    // matchingTermIds: case-sensitive literal containment
    (cases.map(_._1) ++ edge.map(_._1)).foreach { ps =>
      val want = fullScanExpand(KrepParams(ps), Int.MaxValue).map(oracle(_)._1).sorted
      assert(resident.matchingTermIds(ps).toSeq == want, s"matchingTermIds $ps")
    }
    assert(indexedHits > 50 && below > 50,
      s"indexed $indexed ($indexedHits with hits), below the threshold $below")
  }

  test("hotTerms: same top-k in both, including a hot set beyond HotTermCap") {
    def oracleHot(minDf: Long): Seq[String] =
      oracle.toSeq.collect { case (t, (_, df)) if df > minDf => (t, df) }
        .sortBy { case (t, df) => (-df, t) }.take(TermDict.HotTermCap)
        .map(_._1).sorted
    val n = 1200L
    Seq(0L, 1L, n / 64, n / 8, n).foreach { minDf =>
      val want = oracleHot(minDf)
      assert(resident.hotTerms(minDf).toSeq == want, s"resident minDf=$minDf")
      assert(scanned.hotTerms(minDf).toSeq == want, s"scanned minDf=$minDf")
    }
    // every term has df >= 1, so the hot set above 0 is the whole dict:
    // both implementations cut it at the same HotTermCap hottest terms
    assert(oracle.size > TermDict.HotTermCap)
    assert(resident.hotTerms(0L).length == TermDict.HotTermCap)
    assert(resident.hotTerms(n).isEmpty)
  }

  test("matchingTermIds: resident == scan-backed == oracle") {
    sample(Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, literalGen)), 12, 4L)
      .foreach { ps =>
        val m = new KrepMatcher(KrepParams(ps))
        val want = oracle.collect {
          case (t, (id, _)) if m.contains(UTF8String.fromString(t)) => id
        }.toSeq.sorted
        assert(resident.matchingTermIds(ps).toSeq == want, s"resident $ps")
        assert(scanned.matchingTermIds(ps).toSeq == want, s"scanned $ps")
      }
  }

  test("TermDict.of shares one resident dict per snapshot") {
    val steps = ice.completedSteps
    val a = TermDict.of(spark, ice, steps)
    assert(a.isInstanceOf[TermDict.Resident])
    assert(TermDict.of(spark, ice, steps) eq a)
    assert(a.lookup(terms.take(5).toArray).toSeq == terms.take(5).map(oracle.get))
  }
}
