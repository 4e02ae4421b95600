package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{BlockCodec, PostingBlock}

class BlockMaxWandSpec extends AnyFunSuite {

  private def block(termId: Long, docs: Array[Long], tfs: Array[Int],
      dls: Array[Int]): PostingBlock =
    PostingBlock(termId, 0L, docs.head, docs.last, docs.length, tfs.max,
      dls.min, BlockCodec.encodeDeltaLongs(docs), BlockCodec.encodeInts(tfs),
      BlockCodec.encodeInts(dls))

  test("topK with k = Int.MaxValue returns every scored doc of a small segment") {
    // the heap is sized by the segment's postings, not by k: a caller asking
    // for "everything" must not allocate a k-sized array up front
    val a = Array(block(1L, Array(1L, 4L), Array(1, 2), Array(10, 12)),
      block(1L, Array(9L), Array(1), Array(8)))
    val b = Array(block(2L, Array(4L, 7L), Array(3, 1), Array(12, 5)))
    val idfs = Array(1.25, 0.5)
    val got = BlockMaxWand.topK(Array(a, b), idfs, avgdl = 9.0, k = Int.MaxValue)
    val dls = Map(1L -> 10, 4L -> 12, 7L -> 5, 9L -> 8)
    def add(i: Int, tf: Int, d: Long) = Bm25.addend(idfs(i), tf, dls(d), 9.0)
    val want = Seq(1L -> add(0, 1, 1L), 4L -> (add(0, 2, 4L) + add(1, 3, 4L)),
      7L -> add(1, 1, 7L), 9L -> add(0, 1, 9L))
      .sortBy { case (d, s) => (-s, d) }
    assert(got.map(d => (d.docId, d.score)).toSeq == want)
  }
}
