package graft.query

import graft.index.PostingBlock

/** Per-segment conjunctive (all-terms) intersection — the index lift of the
  * shell idiom `krep p1 FILE | krep p2` (each pipe stage ANDs another
  * pattern; the reference's own multi-pattern mode is a disjunction,
  * krep.c:3571). A doc qualifies iff EVERY query term occurs in it; its
  * score is the same ascending-slot BM25 fold as the disjunctive path, so
  * conjunctive results are exactly the disjunctive scores restricted to the
  * intersection.
  *
  * Owns the one leapfrog loop ([[leapfrog]]) that [[PhraseSearch]] reuses.
  * Positions are never touched here: [[PostingCursor]]s run over the
  * positions-free [[PostingBlock]] projection (parquet is columnar — `poss`
  * stays on disk), zipper-merging by docId with whole-block skipping via
  * `lastDoc`.
  */
object ConjunctiveSearch {

  /** All conjunctive matches in one segment, in docId order. Emits at most
    * one row per doc; per-segment match count is bounded by the segment's
    * doc span, so callers may materialize a segment's matches.
    *
    * `exclBlocks` (NOT mode) holds one block run per excluded term: an
    * aligned doc is dropped if ANY exclusion cursor lands on it. Exclusion
    * cursors ride the same positions-free skip machinery as the AND slots
    * (whole blocks skipped via `lastDoc`), so a hot excluded term costs one
    * more merge cursor, never a corpus scan — and an excluded term with no
    * postings in the segment costs nothing.
    */
  def segmentMatches(slotBlocks: Array[Array[PostingBlock]],
      idfs: Array[Double], avgdl: Double,
      exclBlocks: Array[Array[PostingBlock]] = Array.empty)
      : Iterator[ScoredDoc] =
    leapfrog(slotBlocks.map(new PostingCursor(_)),
      exclBlocks.map(new PostingCursor(_)), idfs, avgdl)(accept = true)

  /** The leapfrog loop: aligns every slot cursor on the current max doc; an
    * aligned doc that no exclusion cursor sits on and that passes `accept`
    * is emitted with its ascending-slot BM25 fold (the disjunctive path's
    * and the oracle's summation order). `accept` sees the cursors parked on
    * the doc. Matches come back in docId order, materialized per segment.
    */
  private[query] def leapfrog(cursors: Array[_ <: PostingCursor[_]],
      excl: Array[PostingCursor[PostingBlock]], idfs: Array[Double],
      avgdl: Double)(accept: => Boolean): Iterator[ScoredDoc] = {
    val out = Array.newBuilder[ScoredDoc]
    val nSlots = cursors.length
    var live = nSlots > 0 && !cursors.exists(_.exhausted)
    while (live) {
      var target = cursors(0).doc
      var i = 1
      while (i < nSlots) {
        if (cursors(i).doc > target) target = cursors(i).doc
        i += 1
      }
      var aligned = true
      i = 0
      while (live && i < nSlots) {
        cursors(i).advanceTo(target)
        if (cursors(i).exhausted) live = false
        else if (cursors(i).doc != target) aligned = false
        i += 1
      }
      if (live && aligned) {
        // NOT filter: an exclusion cursor sitting exactly on the aligned doc
        // vetoes it (exhausted exclusion cursors stay exhausted)
        var vetoed = false
        var x = 0
        while (x < excl.length) {
          excl(x).advanceTo(target)
          if (!excl(x).exhausted && excl(x).doc == target) vetoed = true
          x += 1
        }
        if (!vetoed && accept) {
          var score = 0.0
          var s = 0
          while (s < nSlots) {
            score += Bm25.addend(idfs(s), cursors(s).tf, cursors(s).dl, avgdl)
            s += 1
          }
          out += ScoredDoc(target, score)
        }
        i = 0
        while (i < nSlots) {
          cursors(i).next()
          if (cursors(i).exhausted) live = false
          i += 1
        }
      }
    }
    out.result().iterator
  }
}
