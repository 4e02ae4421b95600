package graft.query

import graft.index.{BlockCodec, PosPostingBlock}

/** Per-segment positional phrase intersection — the shuffle-free phrase
  * kernel. For every docId carrying ALL phrase terms, checks that the phrase
  * tokens occur at consecutive token ordinals (positions are stored in the
  * posting blocks), and emits the doc with its exact BM25 score.
  *
  * Nothing here shuffles: blocks arrive grouped by segment, and the
  * conjunctive kernel's leapfrog loop ([[ConjunctiveSearch.leapfrog]])
  * zipper-merges them in place with [[positionsMatch]] as its per-doc
  * accept check. Positions decode lazily, once per visited block, and only
  * for docs that survive the docId intersection. A hot term ("the"-class)
  * costs a linear cursor walk inside its segment, never an N-row exchange.
  *
  * Scoring contract: identical to [[BlockMaxWand]] / the brute-force oracle —
  * addends summed in ascending canonical-term order, bit-identical folds.
  */
object PhraseSearch {

  /** [[PostingCursor]] plus lazy position decoding: a block's `poss` decode
    * on the first [[positions]] call inside it. The decode reads the tfs
    * buffer while it holds this block's tfs, and a reload moves `block`, so
    * decoded lists never outlive the block they belong to.
    */
  private final class PosCursor(blocks: Array[PosPostingBlock])
      extends PostingCursor(blocks) {
    private var posLists: Array[Array[Int]] = _
    private var posBlock: PosPostingBlock = _ // the block posLists belong to

    def positions: Array[Int] = {
      if (posBlock ne block) {
        posBlock = block
        posLists = BlockCodec.decodePosLists(posBlock.poss, blockTfs, blockLength)
      }
      posLists(offset)
    }
  }

  @inline private def containsPos(xs: Array[Int], v: Int): Boolean =
    v >= 0 && java.util.Arrays.binarySearch(xs, v) >= 0

  /** True iff some base ordinal places every phrase slot: for each slot s and
    * each offset o in `slotOffsets(s)`, (base + o) ∈ positions(s). Candidate
    * bases enumerate from the slot with the fewest occurrences.
    */
  def positionsMatch(slotPositions: Array[Array[Int]],
      slotOffsets: Array[Array[Int]]): Boolean = {
    var rare = 0
    var i = 1
    while (i < slotPositions.length) {
      if (slotPositions(i).length < slotPositions(rare).length) rare = i
      i += 1
    }
    val rarePos = slotPositions(rare)
    val rareOffs = slotOffsets(rare)
    var pi = 0
    while (pi < rarePos.length) {
      var oi = 0
      while (oi < rareOffs.length) {
        val base = rarePos(pi) - rareOffs(oi)
        if (base >= 0) {
          var ok = true
          var s = 0
          while (ok && s < slotOffsets.length) {
            val offs = slotOffsets(s)
            var j = 0
            while (ok && j < offs.length) {
              ok = containsPos(slotPositions(s), base + offs(j))
              j += 1
            }
            s += 1
          }
          if (ok) return true
        }
        oi += 1
      }
      pi += 1
    }
    false
  }

  /** All phrase matches in one segment, in docId order.
    *
    * @param slotBlocks  blocks of distinct term slot s (canonical term order)
    *                    within this segment, sorted by firstDoc
    * @param slotOffsets phrase token offsets where slot s's term must appear
    * @param idfs        idf per slot
    */
  def segmentMatches(slotBlocks: Array[Array[PosPostingBlock]],
      slotOffsets: Array[Array[Int]], idfs: Array[Double],
      avgdl: Double): Iterator[(Long, Double)] = {
    val cursors = slotBlocks.map(new PosCursor(_))
    ConjunctiveSearch.leapfrog(cursors, Array.empty, idfs, avgdl)(
      positionsMatch(cursors.map(_.positions), slotOffsets))
      .map(d => (d.docId, d.score))
  }
}
