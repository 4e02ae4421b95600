package graft.query

import graft.index.{BlockCodec, BlockFields}

/** The one decoding cursor over one term's posting blocks within a segment,
  * sorted by firstDoc (disjoint ranges). A block decodes when the cursor
  * enters it, into buffers the cursor allocates once, sized to its largest
  * block; [[advanceTo]] skips whole blocks via their `lastDoc` without
  * decoding them. The WAND, conjunctive and phrase kernels all walk
  * postings through it, adding only what their scoring needs.
  */
class PostingCursor[B <: BlockFields](blocks: Array[B]) {
  private var bi = 0
  private val cap = blocks.foldLeft(0)((m, b) => math.max(m, b.n))
  private val docs = new Array[Long](cap)
  private val tfs = new Array[Int](cap)
  private val dls = new Array[Int](cap)
  private var len = 0 // postings of the current block
  private var pos = 0
  var exhausted: Boolean = blocks.isEmpty
  if (!exhausted) load()

  private def load(): Unit = {
    val b = blocks(bi)
    len = b.n
    BlockCodec.decodeDeltaLongsInto(b.docs, len, docs)
    BlockCodec.decodeIntsInto(b.tfs, len, tfs)
    BlockCodec.decodeIntsInto(b.dls, len, dls)
    pos = 0
  }

  final def doc: Long = docs(pos)
  final def tf: Int = tfs(pos)
  final def dl: Int = dls(pos)
  final def block: B = blocks(bi)
  /** Decoded tfs of the current block (the position-list lengths) in
    * `blockTfs(0 until blockLength)`; the buffer is refilled when the
    * cursor enters another block.
    */
  final protected def blockTfs: Array[Int] = tfs
  final protected def blockLength: Int = len
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
    var h = len - 1
    while (l < h) {
      val m = (l + h) >>> 1
      if (docs(m) < target) l = m + 1 else h = m
    }
    pos = l
  }

  final def next(): Unit = {
    if (exhausted) return
    pos += 1
    if (pos >= len) {
      bi += 1
      if (bi >= blocks.length) exhausted = true else load()
    }
  }
}
