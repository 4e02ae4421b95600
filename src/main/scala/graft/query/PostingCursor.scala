package graft.query

import graft.index.{BlockCodec, BlockFields}

/** The one decoding cursor over one term's posting blocks within a segment,
  * sorted by firstDoc (disjoint ranges). A block decodes when the cursor
  * enters it; [[advanceTo]] skips whole blocks via their `lastDoc` without
  * decoding them. The WAND, conjunctive and phrase kernels all walk
  * postings through it, adding only what their scoring needs.
  */
class PostingCursor[B <: BlockFields](blocks: Array[B]) {
  private var bi = 0
  private var docs: Array[Long] = _
  private var tfs: Array[Int] = _
  private var dls: Array[Int] = _
  private var pos = 0
  var exhausted: Boolean = blocks.isEmpty
  if (!exhausted) load()

  private def load(): Unit = {
    val b = blocks(bi)
    docs = BlockCodec.decodeDeltaLongs(b.docs, b.n)
    tfs = BlockCodec.decodeInts(b.tfs, b.n)
    dls = BlockCodec.decodeInts(b.dls, b.n)
    pos = 0
  }

  final def doc: Long = docs(pos)
  final def tf: Int = tfs(pos)
  final def dl: Int = dls(pos)
  final def block: B = blocks(bi)
  /** Decoded tfs of the current block (the position-list lengths). */
  final protected def blockTfs: Array[Int] = tfs
  /** Offset of the current posting within its block. */
  final protected def offset: Int = pos

  /** First doc >= target; whole blocks skipped via lastDoc undecoded. */
  final def advanceTo(target: Long): Unit = {
    if (exhausted || docs(pos) >= target) return
    if (blocks(bi).lastDoc < target) {
      do bi += 1 while (bi < blocks.length && blocks(bi).lastDoc < target)
      if (bi >= blocks.length) { exhausted = true; return }
      load() // pos = 0; this block's lastDoc >= target
    }
    // binary search forward from pos for the first doc >= target
    var l = pos
    var h = docs.length - 1
    while (l < h) {
      val m = (l + h) >>> 1
      if (docs(m) < target) l = m + 1 else h = m
    }
    pos = l
  }

  final def next(): Unit = {
    if (exhausted) return
    pos += 1
    if (pos >= docs.length) {
      bi += 1
      if (bi >= blocks.length) exhausted = true else load()
    }
  }
}
