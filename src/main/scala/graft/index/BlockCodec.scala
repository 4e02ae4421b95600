package graft.index

/** Varint / delta codec for posting blocks (north rule: "delta+varint-compress
  * posting blocks"). docIds are strictly increasing within a block → stored as
  * LEB128 varints of gaps (first id stored as-is); tf/dl are small positive
  * ints → plain LEB128.
  *
  * Pure byte-array functions: run inside `mapPartitions` on the build side and
  * inside the WAND iterators on the query side — never materialized as a
  * Catalyst expression (the data is grouped, not per-row).
  */
object BlockCodec {

  private def writeVarLong(buf: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    require(v >= 0, s"varint requires non-negative, got $v")
    while ((v & ~0x7fL) != 0L) {
      buf.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    buf.write(v.toInt)
  }

  /** Encode strictly-increasing longs as first + varint deltas. */
  def encodeDeltaLongs(xs: Array[Long]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(xs.length * 2)
    var prev = 0L
    var i = 0
    while (i < xs.length) {
      val d = if (i == 0) xs(0) else xs(i) - prev - 1
      require(i == 0 || d >= 0, "docIds must be strictly increasing")
      writeVarLong(buf, d)
      prev = xs(i)
      i += 1
    }
    buf.toByteArray
  }

  def decodeDeltaLongs(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    decodeDeltaLongsInto(bytes, n, out)
    out
  }

  /** [[decodeDeltaLongs]] into `out(0 until n)`, allocating nothing. */
  def decodeDeltaLongsInto(bytes: Array[Byte], n: Int, out: Array[Long]): Unit = {
    var pos = 0
    var prev = 0L
    var i = 0
    while (i < n) {
      var v = 0L
      var shift = 0
      var b = 0
      do {
        b = bytes(pos) & 0xff
        v |= (b & 0x7fL) << shift
        shift += 7
        pos += 1
      } while ((b & 0x80) != 0)
      prev = if (i == 0) v else prev + v + 1
      out(i) = prev
      i += 1
    }
  }

  /** Plain varint encode of non-negative ints (tf, dl). */
  def encodeInts(xs: Array[Int]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(xs.length)
    var i = 0
    while (i < xs.length) { writeVarLong(buf, xs(i).toLong); i += 1 }
    buf.toByteArray
  }

  /** Encode a block's per-posting position lists (each strictly increasing
    * token ordinals) back-to-back: per list, first ordinal as-is then gap-1
    * varints. List lengths are NOT stored — they are the block's tf values,
    * already encoded — so positions cost only their own deltas.
    */
  def encodePosLists(lists: Array[Array[Int]]): Array[Byte] = {
    var cap = 0
    var i = 0
    while (i < lists.length) { cap += lists(i).length * 2; i += 1 }
    val buf = new java.io.ByteArrayOutputStream(math.max(cap, 16))
    i = 0
    while (i < lists.length) {
      val xs = lists(i)
      var prev = 0
      var j = 0
      while (j < xs.length) {
        val d = if (j == 0) xs(0) else xs(j) - prev - 1
        require(j == 0 || d >= 0, "positions must be strictly increasing")
        writeVarLong(buf, d.toLong)
        prev = xs(j)
        j += 1
      }
      i += 1
    }
    buf.toByteArray
  }

  /** One position list packed alone — the per-(doc, term) strip the build
    * pipeline shuffles instead of an ARRAY<INT>. Strips are independent
    * (delta state resets per list), so concatenating them in doc order is
    * byte-identical to [[encodePosLists]] over the int arrays.
    */
  def packPositions(xs: Array[Int]): Array[Byte] =
    encodePosLists(Array(xs))

  /** Number of varints in a strip = bytes whose continuation bit is clear.
    * A packed position strip holds exactly one varint per position, so this
    * recovers tf from posv alone — the build's wide exchange can drop the tf
    * column entirely and re-derive it at block-encode time.
    */
  def countVarints(bytes: Array[Byte]): Int = {
    var n = 0
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0x80) == 0) n += 1
      i += 1
    }
    n
  }

  /** Decode position lists; `tfs(i)` gives the i-th list's length. */
  def decodePosLists(bytes: Array[Byte], tfs: Array[Int]): Array[Array[Int]] =
    decodePosLists(bytes, tfs, tfs.length)

  /** The first `n` position lists, `tfs(i)` the i-th list's length — for a
    * `tfs` buffer longer than its block.
    */
  def decodePosLists(bytes: Array[Byte], tfs: Array[Int], n: Int): Array[Array[Int]] = {
    val out = new Array[Array[Int]](n)
    var pos = 0
    var i = 0
    while (i < n) {
      val xs = new Array[Int](tfs(i))
      var prev = 0
      var j = 0
      while (j < xs.length) {
        var v = 0L
        var shift = 0
        var b = 0
        do {
          b = bytes(pos) & 0xff
          v |= (b & 0x7fL) << shift
          shift += 7
          pos += 1
        } while ((b & 0x80) != 0)
        prev = if (j == 0) v.toInt else prev + v.toInt + 1
        xs(j) = prev
        j += 1
      }
      out(i) = xs
      i += 1
    }
    out
  }

  def decodeInts(bytes: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    decodeIntsInto(bytes, n, out)
    out
  }

  /** [[decodeInts]] into `out(0 until n)`, allocating nothing. */
  def decodeIntsInto(bytes: Array[Byte], n: Int, out: Array[Int]): Unit = {
    var pos = 0
    var i = 0
    while (i < n) {
      var v = 0L
      var shift = 0
      var b = 0
      do {
        b = bytes(pos) & 0xff
        v |= (b & 0x7fL) << shift
        shift += 7
        pos += 1
      } while ((b & 0x80) != 0)
      out(i) = v.toInt
      i += 1
    }
  }
}
