package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.krep.{functions => K}

/** Training-data-pipeline text operators, all pure Column builders over the
  * codegen'd krep tokenizer + Spark higher-order functions — no UDFs, no
  * driver-side loops, so every one of these runs inside whole-stage codegen
  * and scales linearly with the corpus.
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

  /** SimHash64 over term frequencies: bit j set iff Σ tf·(±1 from hash bit j)
    * is positive.
    */
  /** (termHash, tf) pairs — materialize as a column before
    * [[simhash64FromHashedTf]] (see [[shingleHashesPoly]] for why).
    */
  def hashedTermFreqs(text: Column): Column =
    transform(K.krep_term_freqs(text), e =>
      struct(xxhash64(e.getField("term")).as("h"),
        e.getField("tf").cast("long").as("tf")))

  def simhash64FromHashedTf(htf: Column): Column = {
    val bits: Seq[Column] = (0 until 64).map { j =>
      when(
        aggregate(htf, lit(0L), (acc, e) =>
          acc + e.getField("tf") *
            when(shiftright(e.getField("h"), j)
              .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)) > 0L,
        1L).otherwise(0L)
    }
    bits.foldLeft(lit(0L))((acc, b) => shiftleft(acc, 1).bitwiseOR(b))
  }

  def simhash64(text: Column): Column =
    simhash64FromHashedTf(hashedTermFreqs(text))

  // --- cross-engine-exact variants (PolyHash mod 2^31-1) ---------------------
  // MinHash and SimHash whose every intermediate value is exact integer
  // arithmetic reproducible in ANSI SQL — so the DuckDB oracle can verify
  // full values, not just row counts. The xxhash64 SimHash above is the
  // wider-hash library variant.

  val HashP = 2147483647L // 2^31 - 1

  /** Deterministic universal-hash coefficients (a_i in [1,P), b_i in [0,P)). */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] = (0 until k).map { i =>
    val a = ((Mix64(0xA5EED0L + i) & Long.MaxValue) % (HashP - 1)) + 1
    val b = (Mix64(0xB5EED0L + i) & Long.MaxValue) % HashP
    (a, b)
  }

  /** One PolyHash per shingle. Materialize this as its own column before
    * the k min-scans of [[minhashPolyFromHashes]]: higher-order lambdas get
    * no common-subexpression elimination, so feeding an expression (rather
    * than a bound column) recomputes the whole shingle pipeline k times per
    * row.
    */
  def shingleHashesPoly(text: Column, shingleN: Int = 3): Column =
    transform(shingles(text, shingleN), s => kernels.poly_hash(s))

  /** MinHash signature: slot i = min over shingles of (a_i·h + b_i) mod P;
    * empty shingle set → P (the oracle's coalesce default).
    */
  def minhashPolyFromHashes(hs: Column, k: Int): Column =
    array(minhashCoeffs(k).map { case (a, b) =>
      aggregate(hs, lit(HashP),
        (m, h) => least(m, (h * lit(a) + lit(b)) % lit(HashP)))
    }: _*)

  /** LSH band hash: polynomial fold over the band's signature slots. */
  def bandHashPoly(sig: Column, band: Int, rows: Int): Column =
    aggregate(slice(sig, band * rows + 1, rows), lit(0L),
      (acc, v) => (acc * 131L + v) % lit(HashP))

  // --- fused codegen'd twins of the PolyHash MinHash pipeline ---------------
  // Value-identical to shingleHashesPoly → minhashPolyFromHashes →
  // bandHashPoly (OpsSpec pins the equality), but one unboxed kernel call per
  // row instead of interpreted CodegenFallback lambdas — and with no
  // intermediate column there is nothing for CollapseProject to re-inline,
  // so the persist() barriers the HOF chain required become plain reuse
  // persists.

  /** text → k-slot MinHash signature in one pass ([[MinHashShingleSig]]). */
  def minhashShingleSigPoly(text: Column, k: Int, shingleN: Int = 3): Column =
    kernels.minhash_shingle_sig(text, shingleN, k)

  /** sig → all `bands` LSH band hashes in one pass ([[BandHashesPoly]]). */
  def bandHashesPolyAll(sig: Column, bands: Int, rows: Int): Column =
    kernels.band_hashes_poly(sig, bands, rows)

  /** Codegen'd twin of [[shingles]] ([[ShingleStrings]]). */
  def shinglesKernel(text: Column, n: Int): Column =
    kernels.shingle_strings(text, n)

  /** (polyhash(term), tf) pairs — materialize before [[simhash31FromHashedTf]]. */
  def hashedTermFreqsPoly(text: Column): Column =
    transform(K.krep_term_freqs(text), e =>
      struct(kernels.poly_hash(e.getField("term")).as("h"),
        e.getField("tf").cast("long").as("tf")))

  /** 31-bit SimHash (the PolyHash value space): bit j set iff the tf-weighted
    * ±1 vote on hash bit j is positive; assembled MSB-first.
    */
  def simhash31FromHashedTf(htf: Column): Column = {
    val bits: Seq[Column] = (0 until 31).map { j =>
      when(
        aggregate(htf, lit(0L), (acc, e) =>
          acc + e.getField("tf") *
            when(shiftright(e.getField("h"), j)
              .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)) > 0L,
        1L).otherwise(0L)
    }
    bits.foldLeft(lit(0L))((acc, b) => shiftleft(acc, 1).bitwiseOR(b))
  }
}
