package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.krep.{functions => K}
import graft.ops.TextOps.{minhashCoeffs, shingles, HashP}

/** Higher-order-function formulations of the MinHash, LSH-band and SimHash
  * pipelines: test oracles for the fused kernels (`kernels.scala`) that
  * replaced them, plus the xxhash64 SimHash variant. Each step is a Spark
  * higher-order function, interpreted per row.
  */
object HofOracles {

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

  /** (polyhash(term), tf) pairs — materialize before [[simhash31FromHashedTf]]. */
  def hashedTermFreqsPoly(text: Column): Column =
    hashedTf(text, kernels.poly_hash)

  /** 31-bit SimHash (the PolyHash value space): bit j set iff the tf-weighted
    * ±1 vote on hash bit j is positive; assembled MSB-first.
    */
  def simhash31FromHashedTf(htf: Column): Column = simhashBits(htf, 31)

  /** (xxhash64(term), tf) pairs — materialize before [[simhash64FromHashedTf]]. */
  def hashedTermFreqs(text: Column): Column =
    hashedTf(text, t => xxhash64(t))

  /** SimHash64 over term frequencies: bit j set iff Σ tf·(±1 from hash bit j)
    * is positive.
    */
  def simhash64FromHashedTf(htf: Column): Column = simhashBits(htf, 64)

  private def hashedTf(text: Column, hash: Column => Column): Column =
    transform(K.krep_term_freqs(text), e =>
      struct(hash(e.getField("term")).as("h"),
        e.getField("tf").cast("long").as("tf")))

  private def simhashBits(htf: Column, nBits: Int): Column = {
    val bits: Seq[Column] = (0 until nBits).map { j =>
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
