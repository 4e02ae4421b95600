package graft.query

import graft.index.PostingBlock

final case class ScoredDoc(docId: Long, score: Double)

/** Block-max WAND top-k over one docId segment (the per-partition kernel of
  * the distributed query, SURVEY.md §3.4), after the published algorithm
  * family: Broder et al., "Efficient query evaluation using a two-level
  * retrieval process" (CIKM 2003) and Ding & Suel, "Faster top-k document
  * retrieval using block-max indexes" (SIGIR 2011). This is also the engine
  * analog of the reference's `-m` early termination (krep.c:1366): posting
  * blocks whose BM25 upper bound cannot beat the current kth score are
  * skipped without decompression.
  *
  * Correctness contract (differentially tested against the brute-force
  * oracle): exact top-k with ties broken by docId ASC; scores summed in
  * ascending term-index order, bit-identical to the oracle's fold.
  */
object BlockMaxWand {

  /** [[PostingCursor]] plus the WAND bounds: the term's upper bound over
    * all its blocks in the segment, the current block's bound, and the
    * current posting's BM25 addend.
    */
  private final class TermIter(idf: Double, blocks: Array[PostingBlock],
      avgdl: Double) extends PostingCursor(blocks) {
    private def upperBound(b: PostingBlock): Double =
      Bm25.blockUpperBound(idf, b.maxTf, b.minDl, avgdl)
    val termUpperBound: Double = {
      var ub = 0.0
      blocks.foreach(b => ub = math.max(ub, upperBound(b)))
      ub
    }
    def currentBlockUpperBound: Double = upperBound(block)
    def addend: Double = Bm25.addend(idf, tf, dl, avgdl)
  }

  /** Bounded top-k heap ordered worst-first: (score ASC, docId DESC), so the
    * root is the entry the next candidate must beat. Ties: docId ASC wins.
    */
  private final class TopK(k: Int, capacity: Int) {
    private val heap = new java.util.PriorityQueue[ScoredDoc](capacity,
      (a: ScoredDoc, b: ScoredDoc) => {
        val c = java.lang.Double.compare(a.score, b.score)
        if (c != 0) c else java.lang.Long.compare(b.docId, a.docId)
      })
    def threshold: Double =
      if (heap.size() < k) Double.NegativeInfinity else heap.peek().score
    def offer(d: ScoredDoc): Unit = {
      if (heap.size() < k) heap.add(d)
      else {
        val worst = heap.peek()
        if (d.score > worst.score ||
            (d.score == worst.score && d.docId < worst.docId)) {
          heap.poll(); heap.add(d)
        }
      }
    }
    def sorted: Array[ScoredDoc] = {
      val arr = new Array[ScoredDoc](heap.size())
      var i = arr.length - 1
      while (i >= 0) { arr(i) = heap.poll(); i -= 1 }
      arr
    }
  }

  // tolerance for float-noise in upper-bound pruning: prune only when the
  // bound is clearly below the threshold, so borderline candidates are
  // always fully evaluated (correctness over a few extra evaluations)
  private val Eps = 1e-9

  /** Exact top-k of one segment. `termBlocks(i)` = blocks of canonical query
    * term i within this segment, sorted by firstDoc; `idfs(i)` its idf.
    */
  def topK(termBlocks: Array[Array[PostingBlock]], idfs: Array[Double],
      avgdl: Double, k: Int): Array[ScoredDoc] = {
    val iters = Array.tabulate(termBlocks.length)(i =>
      new TermIter(idfs(i), termBlocks(i), avgdl))
    // the heap never holds more docs than the segment has postings, so a
    // huge k costs nothing up front
    var postings = 0L
    termBlocks.foreach(_.foreach(postings += _.n))
    val topk = new TopK(k, math.max(1, math.min(k.toLong, postings)).toInt)
    // zero allocation inside the loop: `active(0 until n)` is kept sorted by
    // current doc with an in-place insertion sort (n ≤ #query terms, tiny) —
    // the previous per-iteration `sortBy` copy was the dominant allocation
    // of the whole serving tier and stalled concurrent queries in GC
    val active: Array[TermIter] = iters.filter(!_.exhausted)
    var n = active.length

    while (n > 0) {
      // in-place insertion sort of active(0..n) by current doc (WAND order)
      var si = 1
      while (si < n) {
        val x = active(si)
        val d = x.doc
        var sj = si - 1
        while (sj >= 0 && active(sj).doc > d) {
          active(sj + 1) = active(sj); sj -= 1
        }
        active(sj + 1) = x
        si += 1
      }
      // find pivot: smallest prefix whose UB sum can still reach the
      // threshold — `>= theta - Eps` (not `> theta`) keeps exact-tie
      // candidates alive so the docId ASC tie-break stays rank-identical
      val theta = topk.threshold
      var acc = 0.0
      var p = -1
      var i = 0
      while (p < 0 && i < n) {
        acc += active(i).termUpperBound
        if (theta == Double.NegativeInfinity || acc >= theta - Eps) p = i
        i += 1
      }
      if (p < 0) {
        // no prefix can beat theta → done
        n = 0
      } else {
        val pivotDoc = active(p).doc
        if (active(0).doc == pivotDoc) {
          // extend the prefix to every term currently AT the pivot doc —
          // their addends (and block bounds) belong to this candidate too
          var pe = p
          while (pe + 1 < n && active(pe + 1).doc == pivotDoc) pe += 1
          // block-max check: refine with current-block bounds at pivotDoc
          var blockAcc = 0.0
          var j = 0
          while (j <= pe) { blockAcc += active(j).currentBlockUpperBound; j += 1 }
          if (theta != Double.NegativeInfinity && blockAcc <= theta - Eps) {
            // cannot beat threshold anywhere in these blocks → shallow
            // advance to just past the nearest block boundary, capped at the
            // next term's current doc (docs beyond it see extra terms)
            var horizon = Long.MaxValue
            var j2 = 0
            while (j2 <= pe) {
              val h = active(j2).block.lastDoc
              if (h < horizon) horizon = h
              j2 += 1
            }
            var target = horizon + 1
            if (pe + 1 < n && active(pe + 1).doc < target)
              target = active(pe + 1).doc
            var j3 = 0
            while (j3 <= pe) { active(j3).advanceTo(target); j3 += 1 }
          } else {
            // full evaluation of pivotDoc: sum in ascending termIdx order
            var score = 0.0
            var ti = 0
            while (ti < iters.length) {
              val it = iters(ti)
              if (!it.exhausted) {
                if (it.doc < pivotDoc) it.advanceTo(pivotDoc)
                if (!it.exhausted && it.doc == pivotDoc) score += it.addend
              }
              ti += 1
            }
            topk.offer(ScoredDoc(pivotDoc, score))
            var ti2 = 0
            while (ti2 < iters.length) {
              val it = iters(ti2)
              if (!it.exhausted && it.doc == pivotDoc) it.next()
              ti2 += 1
            }
          }
        } else {
          // advance all pre-pivot terms to pivotDoc
          var j = 0
          while (j < p) { active(j).advanceTo(pivotDoc); j += 1 }
        }
        // compact exhausted iterators out of the active window
        var w = 0
        var r = 0
        while (r < n) {
          if (!active(r).exhausted) { active(w) = active(r); w += 1 }
          r += 1
        }
        n = w
      }
    }
    topk.sorted
  }
}
