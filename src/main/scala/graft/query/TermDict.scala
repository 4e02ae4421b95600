package graft.query

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.index.{IceTable, StepInfo}
import graft.krep.{AsciiFold, KrepMatcher, KrepParams, functions => K}

/** The term dictionary of one pinned snapshot: term → (termId, df). The
  * dict step is a base file set plus per-append DELTA files (a partial df
  * per file, one termId per term), so a term's df is the sum over every row
  * that names it — Lucene's per-segment dictionary read.
  *
  * [[QueryEngine]] resolves query terms and expands multi-pattern and regex
  * queries through it; [[IndexFilterRewrite]] reads its hot terms at
  * register time and the termIds a pattern matches at plan time.
  *
  * Terms are ordered by their UTF-8 bytes (unsigned), which is Spark's
  * `ORDER BY term`. Terms are tokenizer output, i.e. ASCII word bytes, so
  * this is also String order.
  */
sealed trait TermDict {

  /** (termId, df) of each term, None where the term is absent. */
  def lookup(terms: Array[String]): Array[Option[(Long, Long)]]

  /** Terms matching `params` (krep semantics over each term), cut at the
    * `maxExpand` highest df, ties by term — the reference caps patterns at
    * 1024 (krep.c:3571) and the hottest terms dominate a disjunctive score.
    * Term-sorted. The resident dict runs the matcher only over the terms
    * its trigram index admits for a literal query of patterns of 3 bytes or
    * more, or over the terms that start with a regex's
    * [[TermDict.anchoredPrefix]], when it has one.
    */
  def expand(params: KrepParams, maxExpand: Int): Array[String]

  /** Terms with df > `minDf`, cut at the [[TermDict.HotTermCap]] highest df
    * (ties by term) so the driver footprint is bounded.
    */
  def hotTerms(minDf: Long): Array[String]

  /** Ascending termIds of the terms containing any of `patterns`
    * (case-sensitive, overlapping literal containment).
    */
  def matchingTermIds(patterns: Seq[String]): Array[Long]
}

object TermDict {

  /** Dicts up to this many rows (base plus deltas) are held on the driver:
    * every call is then pure CPU and launches no Spark job. Larger dicts
    * (10^12-doc scale) are served by pruned scans instead.
    */
  val ResidentMaxRows = 500000L

  /** Cap of [[TermDict.hotTerms]]. */
  val HotTermCap = 4096

  /** The dict of `steps`, resident or scan-backed by its row count. A
    * resident dict is loaded once per snapshot and shared: an engine and the
    * index rewrite over the same snapshot hold the same instance.
    */
  def of(spark: SparkSession, ice: IceTable,
      steps: scala.collection.Map[String, StepInfo]): TermDict = {
    val step = steps("dict")
    val hit = loaded.get(ice.root)
    if (step.rowCount > ResidentMaxRows) new Scanned(ice.readSteps(spark, steps, "dict"))
    else if (hit != null && hit._1 == step) hit._2
    else {
      val d = Resident.load(ice.readSteps(spark, steps, "dict"))
      loaded.put(ice.root, (step, d))
      d
    }
  }

  /** The last resident dict loaded per index root, with its dict step. */
  private val loaded = new ConcurrentHashMap[String, (StepInfo, Resident)]

  /** The literal prefix every term a regex matches starts with, or None
    * when the regex does not qualify. It qualifies when it is one
    * case-sensitive, non-whole-word pattern that starts with `^` and holds
    * no `|` and no `(?`. Terms are tokenizer output with no `\n`, so its
    * MULTILINE `^` can match only at offset 0, and the ASCII letters and
    * digits right after it must follow there literally. The prefix is that
    * run, less its last character when a quantifier (`*`, `?`, `{`, `+`)
    * follows it. An empty prefix narrows nothing.
    */
  private[query] def anchoredPrefix(params: KrepParams): Option[String] = {
    import params._
    val p = patterns.head
    if (!regex || patterns.size != 1 || !caseSensitive || wholeWord ||
        !p.startsWith("^") || p.contains("|") || p.contains("(?")) None
    else {
      val run = p.drop(1).takeWhile(c => c < 0x80 && c.isLetterOrDigit)
      val cut = p.lift(1 + run.length).exists("*?{+".contains(_))
      Some(if (cut) run.dropRight(1) else run).filter(_.nonEmpty)
    }
  }

  /** Driver-resident dict: the UTF-8 bytes of every term in one array in
    * term order, term `i` at `bytes[offs(i), offs(i + 1))`, with termIds and
    * summed dfs alongside, and a [[Trigrams]] index over the same bytes,
    * built on the first literal query that uses it, so a dict that only
    * serves lookups, regexes or short patterns never holds one. Lookup is
    * a binary search. Expansion picks candidate term indexes, then
    * runs the matcher over the stored bytes of each candidate, an offset
    * view per term, with no copy and no per-term `UTF8String`. The
    * candidates are:
    *  - for a literal query whose every pattern is at least 3 UTF-8 bytes:
    *    the union over its patterns of the terms holding all of the
    *    pattern's trigrams (ASCII-folded, so one index serves both case
    *    modes), a superset of the matches;
    *  - for a regex with an [[anchoredPrefix]]: the term range that starts
    *    with it, which two binary searches find;
    *  - for any other query: the whole dict.
    */
  final class Resident private (bytes: Array[Byte], offs: Array[Int],
      ids: Array[Long], dfs: Array[Long]) extends TermDict {

    def size: Int = ids.length

    private lazy val grams = Trigrams.of(bytes, offs)

    private def term(i: Int): String =
      new String(bytes, offs(i), offs(i + 1) - offs(i), UTF_8)

    private def find(t: Array[Byte]): Int = {
      var lo = 0
      var hi = size - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = java.util.Arrays.compareUnsigned(
          bytes, offs(mid), offs(mid + 1), t, 0, t.length)
        if (c < 0) lo = mid + 1
        else if (c > 0) hi = mid - 1
        else return mid
      }
      -1
    }

    def lookup(terms: Array[String]): Array[Option[(Long, Long)]] =
      terms.map { t =>
        val i = find(t.getBytes(UTF_8))
        if (i < 0) None else Some((ids(i), dfs(i)))
      }

    /** First index whose term's leading `p.length` bytes compare above `p`
      * (`strict`) or not below it. Truncating to `p.length` bytes keeps term
      * order, so both are binary searches.
      */
    private def bound(p: Array[Byte], strict: Boolean): Int = {
      var lo = 0
      var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = java.util.Arrays.compareUnsigned(bytes, offs(mid),
          math.min(offs(mid) + p.length, offs(mid + 1)), p, 0, p.length)
        if (c < 0 || (strict && c == 0)) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** Indexes of the terms `params` matches, ascending: the matcher over
      * each candidate, `cand(k)` for `k < n`, or `from + k` when `cand` is
      * null (a term range).
      */
    private def matching(params: KrepParams): Array[Int] = {
      val m = new KrepMatcher(params)
      val pats = params.patterns.map(_.getBytes(UTF_8))
      var cand: Array[Int] = null
      var from = 0
      var n = size
      if (!params.regex && pats.forall(_.length >= Trigrams.Q)) {
        cand = grams.candidates(pats)
        n = cand.length
      } else anchoredPrefix(params).foreach { p =>
        val b = p.getBytes(UTF_8)
        from = bound(b, strict = false)
        n = bound(b, strict = true) - from
        // compile the regex even when no term is in range, so a malformed
        // one fails here as it does on a full scan
        if (n == 0) m.contains(Array.emptyByteArray, 0, 0)
      }
      val hits = Array.newBuilder[Int]
      var k = 0
      while (k < n) {
        val i = if (cand == null) from + k else cand(k)
        if (m.contains(bytes, offs(i), offs(i + 1))) hits += i
        k += 1
      }
      hits.result()
    }

    /** The `limit` highest-df terms among `idx` with df > `minDf`. `idx` is
      * ascending, i.e. in term order, so a stable sort by df alone breaks
      * ties by term.
      */
    private def top(idx: Array[Int], minDf: Long, limit: Int): Array[String] = {
      val above = idx.filter(i => dfs(i) > minDf)
      val cut =
        if (above.length <= limit) above
        else above.sortBy(i => -dfs(i)).take(limit)
      cut.sorted.map(term)
    }

    def expand(params: KrepParams, maxExpand: Int): Array[String] =
      top(matching(params), 0L, maxExpand)

    def hotTerms(minDf: Long): Array[String] =
      top(Array.range(0, size), minDf, HotTermCap)

    def matchingTermIds(patterns: Seq[String]): Array[Long] =
      matching(KrepParams(patterns)).map(ids).sorted
  }

  object Resident {

    /** Collect (term, termId, df) rows, merge each term's rows into one
      * entry with the summed df, and lay the terms out in byte order.
      */
    def load(dict: DataFrame): Resident = {
      val terms = dict.select(col("term"), col("termId"), col("df")).collect()
        .groupMapReduce(_.getString(0))(r => (r.getLong(1), r.getLong(2)))(
          (a, b) => (a._1, a._2 + b._2))
        .toArray.map { case (t, idDf) => (t.getBytes(UTF_8), idDf) }
      val byBytes: java.util.Comparator[(Array[Byte], (Long, Long))] =
        (a, b) => java.util.Arrays.compareUnsigned(a._1, b._1)
      java.util.Arrays.sort(terms, byBytes)
      new Resident(terms.flatMap(_._1),
        terms.scanLeft(0)(_ + _._1.length), terms.map(_._2._1), terms.map(_._2._2))
    }
  }

  /** Trigram index over the terms of a [[Resident]] dict (Russ Cox,
    * "Regular Expression Matching with a Trigram Index"): for every
    * distinct ASCII-folded 3-byte key, the ascending indexes of the terms
    * whose folded bytes hold it. Laid out in CSR form as three flat arrays:
    * the sorted distinct `keys`, and key `k`'s terms at
    * `terms[offs(k), offs(k + 1))`.
    */
  private final class Trigrams(keys: Array[Int], offs: Array[Int],
      terms: Array[Int]) {

    /** Ascending indexes of the terms that hold every trigram of at least
      * one of `patterns` (each at least [[Trigrams.Q]] bytes): a superset of
      * the terms holding a pattern, in either case mode.
      */
    def candidates(patterns: Seq[Array[Byte]]): Array[Int] = {
      val all = patterns.toArray.flatMap(allOf)
      java.util.Arrays.sort(all)
      var n = 0
      var i = 0
      while (i < all.length) {
        if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(all, n)
    }

    /** The terms holding every trigram of `p`: their posting lists
      * intersected shortest first, stopping once the result is empty.
      */
    private def allOf(p: Array[Byte]): Array[Int] = {
      val lists = new Array[Int](p.length - Trigrams.Q + 1)
      var j = 0
      while (j < lists.length) {
        val k = java.util.Arrays.binarySearch(keys, Trigrams.key(p, j))
        if (k < 0) return Array.emptyIntArray
        lists(j) = k
        j += 1
      }
      val byLen = lists.distinct.sortBy(k => offs(k + 1) - offs(k))
      val out = java.util.Arrays.copyOfRange(terms, offs(byLen(0)), offs(byLen(0) + 1))
      var n = out.length
      j = 1
      while (j < byLen.length && n > 0) {
        n = intersect(out, n, offs(byLen(j)), offs(byLen(j) + 1))
        j += 1
      }
      java.util.Arrays.copyOf(out, n)
    }

    /** Keep the first `n` of `cand` that are in `terms[from, until)`, in
      * place; both are ascending. Returns how many were kept.
      */
    private def intersect(cand: Array[Int], n: Int, from: Int, until: Int): Int = {
      var kept = 0
      var lo = from
      var i = 0
      while (i < n && lo < until) {
        val at = java.util.Arrays.binarySearch(terms, lo, until, cand(i))
        if (at >= 0) { cand(kept) = cand(i); kept += 1; lo = at + 1 }
        else lo = -at - 1
        i += 1
      }
      kept
    }
  }

  private object Trigrams {

    /** Gram length in bytes. */
    val Q = 3

    /** The folded trigram of `b` at `at`, as a 24-bit key. */
    def key(b: Array[Byte], at: Int): Int =
      (AsciiFold.fold(b(at)) & 0xff) << 16 |
        (AsciiFold.fold(b(at + 1)) & 0xff) << 8 |
        AsciiFold.fold(b(at + 2)) & 0xff

    /** The index of the terms `bytes[offs(i), offs(i + 1))`: every (key,
      * term) pair packed into one long, sorted, and deduplicated into CSR.
      */
    def of(bytes: Array[Byte], offs: Array[Int]): Trigrams = {
      val size = offs.length - 1
      var total = 0
      var i = 0
      while (i < size) { total += math.max(0, offs(i + 1) - offs(i) - Q + 1); i += 1 }
      val pairs = new Array[Long](total)
      var p = 0
      i = 0
      while (i < size) {
        var at = offs(i)
        while (at + Q <= offs(i + 1)) {
          pairs(p) = key(bytes, at).toLong << 32 | i
          p += 1
          at += 1
        }
        i += 1
      }
      java.util.Arrays.sort(pairs)
      val keys = Array.newBuilder[Int]
      val starts = Array.newBuilder[Int]
      val terms = new Array[Int](total)
      var n = 0
      p = 0
      while (p < total) {
        if (p == 0 || pairs(p) != pairs(p - 1)) {
          val k = (pairs(p) >>> 32).toInt
          if (p == 0 || k != (pairs(p - 1) >>> 32).toInt) { keys += k; starts += n }
          terms(n) = pairs(p).toInt
          n += 1
        }
        p += 1
      }
      starts += n
      new Trigrams(keys.result(), starts.result(), java.util.Arrays.copyOf(terms, n))
    }
  }

  /** Scan-backed dict for dicts above [[ResidentMaxRows]]: each call is one
    * pruned parquet read of the dict, and nothing is held on the driver
    * beyond a call's result. The dict is written sorted by term, so a
    * `term IN` lookup reads a handful of row groups; expansion and hot terms
    * sum the deltas before a `TakeOrdered` cut, so a short pattern over a
    * 10^9-term dict never collects every matching term.
    */
  final class Scanned(dict: DataFrame) extends TermDict {

    def lookup(terms: Array[String]): Array[Option[(Long, Long)]] =
      Resident.load(dict.filter(col("term").isin(terms.toSeq: _*))).lookup(terms)

    private def top(rows: DataFrame, minDf: Long, limit: Int): Array[String] =
      rows.groupBy(col("term")).agg(sum(col("df")).as("df"))
        .filter(col("df") > minDf)
        .orderBy(col("df").desc, col("term"))
        .limit(limit)
        .select(col("term")).collect().map(_.getString(0)).sorted

    def expand(params: KrepParams, maxExpand: Int): Array[String] =
      top(dict.filter(K.krep_contains(col("term"), params)), 0L, maxExpand)

    def hotTerms(minDf: Long): Array[String] = top(dict, minDf, HotTermCap)

    def matchingTermIds(patterns: Seq[String]): Array[Long] =
      dict.filter(K.krep_contains(col("term"), KrepParams(patterns)))
        .select(col("termId")).distinct()
        .collect().map(_.getLong(0)).sorted
  }
}
