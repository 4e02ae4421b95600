package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.krep.{functions => K}

/** Training-data-pipeline text operators, all pure Column builders over the
  * codegen'd krep tokenizer, Spark higher-order functions and the fused
  * MinHash kernels of `kernels.scala` — no UDFs, no driver-side loops, so
  * every one of these scales linearly with the corpus.
  */
object TextOps {

  /** Canonical tokens (krep word-char class, ASCII-folded). */
  def tokens(text: Column): Column = K.krep_tokenize(text)

  /** Count of tokens belonging to a stopword set (language-ID feature). */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(stopwords))).cast("long")

  /** Integer-domain quality features: character length, token count,
    * stopword basis points, mean token length ×100 — exact integer
    * arithmetic so oracle engines agree bit-for-bit.
    */
  def qualityFeatures(text: Column, stopwords: Seq[String])
      : Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = size(toks).cast("long")
    val stop = stopwordCount(text, stopwords)
    val tokChars = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (a, x) => a + x)
    Seq(
      "n_chars" -> length(text).cast("long"),
      "n_tok" -> nTok,
      "stop_bps" -> intDiv(stop * 10000L, nTok),
      "tok_len_x100" -> intDiv(tokChars * 100L, nTok))
  }

  /** Floor division of non-negative longs (== DuckDB `//`). The double
    * quotient is correctly rounded and, for operands ≤2^53 with divisors in
    * practical range, never rounds up across an integer boundary.
    */
  def intDiv(a: Column, b: Column): Column =
    when(b =!= 0L, floor(a.cast("double") / b.cast("double")).cast("long"))
      .otherwise(lit(0L))

  /** Rolling-hash document fingerprint over tokens:
    * fold((h, t) => (h*131 + len(t)*7 + ascii(t[0])) mod 1e9+7). Matches
    * DuckDB's `list_reduce` seed semantics (first element as seed) because
    * folding from 0 makes step one a no-op mod p.
    */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), t => (length(t) * 7 + ascii(t)).cast("long")),
      lit(0L),
      (acc, x) => (acc * 131L + x) % 1000000007L)

  /** Token n-gram shingles joined by single spaces. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array())
  }

  /** Exact n-gram Jaccard similarity in basis points (integer-exact). */
  def jaccardBps(shA: Column, shB: Column): Column = {
    val a = array_distinct(shA)
    val b = array_distinct(shB)
    val inter = size(array_intersect(a, b)).cast("long")
    val union = size(a).cast("long") + size(b).cast("long") - inter
    when(union > 0L, inter * 10000L / union).otherwise(lit(0L)).cast("long")
  }

  // --- cross-engine-exact MinHash / LSH (PolyHash mod 2^31-1) ---------------
  // Every intermediate value is exact integer arithmetic reproducible in
  // ANSI SQL, so the DuckDB oracle can verify full values, not just row
  // counts.

  val HashP = 2147483647L // 2^31 - 1

  /** Deterministic universal-hash coefficients (a_i in [1,P), b_i in [0,P)). */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] = (0 until k).map { i =>
    val a = ((Mix64(0xA5EED0L + i) & Long.MaxValue) % (HashP - 1)) + 1
    val b = (Mix64(0xB5EED0L + i) & Long.MaxValue) % HashP
    (a, b)
  }

  // --- fused codegen'd PolyHash MinHash pipeline ----------------------------
  // Value-identical to the higher-order-function chain shingles → poly_hash
  // → k × aggregate(least) → band fold (kept in src/test as `HofOracles`;
  // OpsSpec pins the equality), but one unboxed kernel call per row instead
  // of interpreted CodegenFallback lambdas — and with no intermediate column
  // there is nothing for CollapseProject to re-inline, so the persist()
  // barriers the HOF chain required become plain reuse persists.

  /** text → k-slot MinHash signature in one pass ([[MinHashShingleSig]]). */
  def minhashShingleSigPoly(text: Column, k: Int, shingleN: Int = 3): Column =
    kernels.minhash_shingle_sig(text, shingleN, k)

  /** sig → all `bands` LSH band hashes in one pass ([[BandHashesPoly]]). */
  def bandHashesPolyAll(sig: Column, bands: Int, rows: Int): Column =
    kernels.band_hashes_poly(sig, bands, rows)

  /** Codegen'd twin of [[shingles]] ([[ShingleStrings]]). */
  def shinglesKernel(text: Column, n: Int): Column =
    kernels.shingle_strings(text, n)
}
