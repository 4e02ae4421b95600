package graft.query

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.index.{IceTable, StepInfo}
import graft.krep.{KrepMatcher, KrepParams, functions => K}

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
    * that start with a regex's [[TermDict.anchoredPrefix]], when it has one.
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
    * summed dfs alongside. Lookup is a binary search; expansion runs the
    * matcher over the stored bytes, an offset view per term, with no copy
    * and no per-term `UTF8String`. A regex with an [[anchoredPrefix]] scans
    * only the term range that starts with it, which two binary searches
    * find; every other expansion scans the whole dict.
    */
  final class Resident private (bytes: Array[Byte], offs: Array[Int],
      ids: Array[Long], dfs: Array[Long]) extends TermDict {

    def size: Int = ids.length

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

    /** Indexes of the terms `params` matches, ascending. */
    private def matching(params: KrepParams): Array[Int] = {
      val m = new KrepMatcher(params)
      val (from, until) = anchoredPrefix(params) match {
        case Some(p) =>
          val b = p.getBytes(UTF_8)
          val range = (bound(b, strict = false), bound(b, strict = true))
          // compile the regex even when no term is in range, so a malformed
          // one fails here as it does on a full scan
          if (range._1 == range._2) m.contains(Array.emptyByteArray, 0, 0)
          range
        case None => (0, size)
      }
      val hits = Array.newBuilder[Int]
      var i = from
      while (i < until) {
        if (m.contains(bytes, offs(i), offs(i + 1))) hits += i
        i += 1
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
