package graft.query

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{BlockCodec, PosPostingBlock, PostingBlock}

/** Randomized differential spec of the three per-segment kernels —
  * [[BlockMaxWand.topK]], [[ConjunctiveSearch.segmentMatches]] and
  * [[PhraseSearch.segmentMatches]] — against brute-force models over the
  * same postings. Each case generates one segment of docs as token
  * sequences over a few terms, derives each term's postings (tf, dl and
  * positions agree with the sequence), and splits them into blocks of
  * random size 1–8, so cursors cross many block boundaries and skip whole
  * blocks. Scores are compared bit for bit: every model folds
  * `Bm25.addend` in ascending slot order from 0.0, the kernels' contract.
  */
class KernelDifferentialSpec extends AnyFunSuite {
  import KernelDifferentialSpec.{Posting, Segment}

  private val avgdl = 7.5

  private def encode(t: Int, postings: Seq[Posting]): PosPostingBlock = {
    val docs = postings.map(_._1).toArray
    val pos = postings.map(_._2).toArray
    val tfs = pos.map(_.length)
    val dls = postings.map(_._3).toArray
    PosPostingBlock(t.toLong, 0L, docs.head, docs.last, docs.length, tfs.max,
      dls.min, BlockCodec.encodeDeltaLongs(docs), BlockCodec.encodeInts(tfs),
      BlockCodec.encodeInts(dls), BlockCodec.encodePosLists(pos))
  }

  /** Splits `xs` into consecutive runs of sizes drawn from 1–8. */
  private def blockSizes[T](xs: Seq[T]): Gen[List[Seq[T]]] =
    if (xs.isEmpty) Gen.const(Nil)
    else Gen.choose(1, 8).flatMap { n =>
      blockSizes(xs.drop(n)).map(xs.take(n) :: _)
    }

  /** A segment over term ids 0 until nTerms: 1–60 docs with sparse, strictly
    * increasing docIds, 1–12 tokens each from a small vocabulary, so tf and
    * dl repeat and scores tie often.
    */
  private def segmentGen(nTerms: Int): Gen[Segment] = for {
    nDocs <- Gen.choose(1, 60)
    gaps <- Gen.listOfN(nDocs, Gen.frequency(4 -> Gen.choose(1L, 3L),
      1 -> Gen.choose(4L, 400L)))
    base <- Gen.choose(0L, 1L << 40)
    seqs <- Gen.listOfN(nDocs, Gen.choose(1, 12).flatMap(len =>
      Gen.listOfN(len, Gen.frequency(1 -> Gen.const(-1),
        3 -> Gen.choose(0, nTerms - 1))).map(_.toArray)))
    docIds = gaps.scanLeft(base)(_ + _).tail
    docs = docIds.zip(seqs).toArray
    perTerm = (0 until nTerms).map { t =>
      t -> docs.toSeq.collect { case (d, seq) if seq.contains(t) =>
        (d, seq.indices.filter(seq(_) == t).toArray, seq.length)
      }
    }
    runs <- Gen.sequence[List[(Int, List[Seq[Posting]])], (Int, List[Seq[Posting]])](
      perTerm.map { case (t, ps) => blockSizes(ps).map(t -> _) })
  } yield Segment(docs, runs.map { case (t, rs) => t -> rs.map(encode(t, _)).toArray }.toMap)

  private val idfGen: Gen[Double] = Gen.choose(0.05, 4.0)

  private def cases[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))

  /** Ascending-slot fold over the slots present in the doc. */
  private def fold(seg: Segment, seq: Array[Int], slots: Seq[Int],
      idfs: Array[Double]): Double =
    slots.indices.foldLeft(0.0) { (acc, s) =>
      val tf = seg.tf(seq, slots(s))
      if (tf == 0) acc else acc + Bm25.addend(idfs(s), tf, seq.length, avgdl)
    }

  test("BlockMaxWand.topK == exact top-k (k below and above the match count)") {
    val g = for {
      nTerms <- Gen.choose(1, 4)
      seg <- segmentGen(nTerms)
      idfs <- Gen.listOfN(nTerms, idfGen)
      k <- Gen.oneOf(Gen.choose(1, 5), Gen.choose(6, 80))
    } yield (nTerms, seg, idfs.toArray, k)
    var below, above = 0
    cases(g, 400, 11L).foreach { case (nTerms, seg, idfs, k) =>
      val slots = 0 until nTerms
      val scored = seg.docs.collect {
        case (d, seq) if slots.exists(seq.contains) => (d, fold(seg, seq, slots, idfs))
      }
      if (k < scored.length) below += 1 else above += 1
      val want = scored.sortBy { case (d, s) => (-s, d) }.take(k).toSeq
      val got = BlockMaxWand.topK(slots.map(seg.wandBlocks).toArray, idfs, avgdl, k)
        .map(d => (d.docId, d.score)).toSeq
      assert(got == want, s"k=$k idfs=${idfs.toSeq}")
    }
    assert(below > 50 && above > 50, s"k below/above the match count: $below/$above")
  }

  test("ConjunctiveSearch.segmentMatches == intersection minus union of exclusions") {
    val g = for {
      nSlots <- Gen.choose(1, 4)
      nExcl <- Gen.choose(0, 2)
      seg <- segmentGen(nSlots + nExcl)
      idfs <- Gen.listOfN(nSlots, idfGen)
    } yield (nSlots, nExcl, seg, idfs.toArray)
    var nonEmpty = 0
    cases(g, 400, 12L).foreach { case (nSlots, nExcl, seg, idfs) =>
      val slots = 0 until nSlots
      val excl = nSlots until nSlots + nExcl
      val want = seg.docs.collect {
        case (d, seq) if slots.forall(seq.contains) && !excl.exists(seq.contains) =>
          (d, fold(seg, seq, slots, idfs))
      }.toSeq
      if (want.nonEmpty) nonEmpty += 1
      val got = ConjunctiveSearch.segmentMatches(slots.map(seg.wandBlocks).toArray,
        idfs, avgdl, excl.map(seg.wandBlocks).toArray)
        .map(d => (d.docId, d.score)).toSeq
      assert(got == want, s"slots=$nSlots excl=$nExcl")
    }
    assert(nonEmpty > 100, s"only $nonEmpty cases had a match")
  }

  test("PhraseSearch.segmentMatches == positional model, repeated tokens included") {
    val g = for {
      nTerms <- Gen.choose(1, 4)
      seg <- segmentGen(nTerms)
      phrase <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.choose(0, nTerms - 1)))
      idfs <- Gen.listOfN(nTerms, idfGen)
    } yield (seg, phrase.toArray, idfs.toArray)
    var nonEmpty, repeated = 0
    cases(g, 600, 13L).foreach { case (seg, phrase, allIdfs) =>
      // slots: the phrase's distinct terms in ascending order, each with the
      // phrase offsets where it must appear
      val slots = phrase.distinct.sorted.toSeq
      val offsets = slots.map(t => phrase.indices.filter(phrase(_) == t).toArray).toArray
      val idfs = slots.map(allIdfs(_)).toArray
      if (offsets.exists(_.length > 1)) repeated += 1
      val want = seg.docs.collect {
        case (d, seq) if seq.indices.exists(b =>
            phrase.indices.forall(i => b + i < seq.length && seq(b + i) == phrase(i))) =>
          (d, fold(seg, seq, slots, idfs))
      }.toSeq
      if (want.nonEmpty) nonEmpty += 1
      val got = PhraseSearch.segmentMatches(slots.map(seg.posBlocks).toArray,
        offsets, idfs, avgdl).toSeq
      assert(got == want, s"phrase=${phrase.toSeq}")
    }
    assert(nonEmpty > 100 && repeated > 50,
      s"cases with a match: $nonEmpty, with a repeated token: $repeated")
  }
}

object KernelDifferentialSpec {
  /** (docId, positions, dl) of one term in one doc. */
  private type Posting = (Long, Array[Int], Int)

  /** One segment: per doc its token sequence (values are term ids, -1 is a
    * filler token no query names), and per term id its blocks.
    */
  private final case class Segment(docs: Array[(Long, Array[Int])],
      blocks: Map[Int, Array[PosPostingBlock]]) {
    def posBlocks(t: Int): Array[PosPostingBlock] =
      blocks.getOrElse(t, Array.empty)
    def wandBlocks(t: Int): Array[PostingBlock] = posBlocks(t).map(b =>
      PostingBlock(b.termId, b.segId, b.firstDoc, b.lastDoc, b.n, b.maxTf,
        b.minDl, b.docs, b.tfs, b.dls))
    def tf(seq: Array[Int], t: Int): Int = seq.count(_ == t)
  }
}
