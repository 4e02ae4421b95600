package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.reflect.ClassTag

import graft.index.{BlockFields, IceTable, IndexStats, PosPostingBlock, PostingBlock}
import graft.krep.KrepTokenize
import org.apache.spark.unsafe.types.UTF8String

/** Distributed BM25 top-k over the segmented inverted index (SURVEY.md §3.4).
  *
  * Plan shape (scale-first):
  *  1. query terms → (termId, df) through the snapshot's [[TermDict]]: a
  *     binary search over the driver-resident dict, zero Spark jobs. Above
  *     [[TermDict.ResidentMaxRows]] dict rows it is a parquet scan filtered
  *     on `term` — the dict is written sorted by term, so row-group min/max
  *     pruning reads a handful of pages; result is a ≤|query| row collect.
  *  2. posting blocks for those termIds only: parquet scan with an
  *     `termId IN (...)` pushdown over files sorted by (termId, docId) —
  *     row-group skipping makes this read proportional to the query's
  *     posting data, not the index size.
  *  3. per-segment block-max WAND (`flatMapGroups` on segId): each executor
  *     produces its segment's exact top-k; segments are the fan-out unit a
  *     1000-executor cluster parallelizes over.
  *  4. global top-k merge: k rows per segment → `ORDER BY score DESC, docId
  *     ASC LIMIT k` (tiny), then a broadcast join against docs for urls.
  */
final class QueryEngine(spark: SparkSession, val root: String,
    localPostingsThreshold: Long = 5000000L,
    driverCacheBlocksThreshold: Long = 4000000L,
    driverCorpusDocsThreshold: Long = 400000L,
    snapshotId: Option[Long] = None) {
  import spark.implicits._

  private val ice = new IceTable(root, spark.sparkContext.hadoopConfiguration)

  /** The engine is PINNED to one snapshot — the one current at construction,
    * or an explicit `snapshotId` (time travel over any unexpired entry):
    * every table read resolves this one manifest, so queries never mix
    * statistics from one snapshot with postings from another while a
    * streaming append commits concurrently. A new engine picks up the new
    * snapshot.
    */
  private val snapshot = snapshotId match {
    case Some(id) => ice.stepsAt(id)
    case None => ice.completedSteps
  }
  /** Each pinned table's relation, resolved (file listing and schema
    * inference) on its first read and reused: the snapshot is fixed, so
    * the relation never changes under the engine.
    */
  private val pinned = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]
  private def readPinned(name: String): DataFrame =
    pinned.computeIfAbsent(name, n => ice.readSteps(spark, snapshot, n))

  val stats: IndexStats = {
    val r = readPinned("stats").head()
    IndexStats(r.getLong(0), r.getDouble(1))
  }

  /** Canonical query terms: krep tokenizer, distinct, sorted by term string.
    * Score addends are summed in this order everywhere (determinism).
    */
  def canonicalTerms(query: String): Array[String] =
    KrepTokenize.tokenize(UTF8String.fromString(query))
      .map(_.toString).distinct.sorted

  import QueryEngine.{TermMeta, bySlot}

  /** This snapshot's term dictionary, loaded on the first lookup. */
  private lazy val dict: TermDict = TermDict.of(spark, ice, snapshot)

  /** Postings relation, pinned in executor memory when the index is small
    * enough (a search tier keeps its segments hot; in-memory batch stats
    * still prune on termId). Above the threshold: plain pruned parquet
    * scans — at 10^12 docs the OS page cache and row-group skipping carry
    * the locality.
    */
  private val cacheBlocksThreshold = 20000000L // block rows
  @transient private lazy val postingsDs: org.apache.spark.sql.DataFrame = {
    // project the WAND columns only: parquet is columnar, so the positional
    // payload (`poss`, roughly the size of the docId deltas) is never read
    // on the top-k path
    val raw = readPinned("postings")
      .select(PostingBlock.wandColumns.map(c => $"$c"): _*)
    if (snapshot("postings").rowCount <= cacheBlocksThreshold) {
      val cached = raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached.count() // materialize once
      cached
    } else raw
  }

  /** For indexes that fit a single search node (blocks under the threshold),
    * the encoded blocks are also held term-keyed on the driver: a query then
    * runs zero Spark jobs — dict lookup and WAND are pure CPU, and query
    * throughput scales with driver cores. This is the "serving" tier shape:
    * brokers hold hot segments; the distributed path below remains the
    * 10^12-doc route.
    */
  @transient private lazy val driverBlocks: Map[Long, Array[PostingBlock]] = {
    readPinned("postings")
      .select(PostingBlock.wandColumns.map(c => $"$c"): _*).as[PostingBlock]
      .collect().groupBy(_.termId)
  }
  /** Phrase-path twin of [[driverBlocks]]: full rows including `poss`,
    * which the phrase kernel's cursor decodes lazily per visited block.
    * Loaded lazily, only if a phrase query runs on a driver-cacheable index.
    * Deliberate trade-off: an engine serving BOTH term and phrase queries
    * holds the scoring columns twice (each cache ≤ the block-row
    * threshold); keeping the caches independent means term-only engines
    * never pay for positions.
    */
  @transient private lazy val driverPosBlocks: Map[Long, Array[PosPostingBlock]] = {
    readPinned("postings").as[PosPostingBlock]
      .collect().groupBy(_.termId)
  }
  private def driverCacheable: Boolean =
    snapshot("postings").rowCount <= driverCacheBlocksThreshold

  /** Serving-tier corpus text cache, docId-sorted parallel arrays (binary
    * search, no per-doc Map boxing): loaded lazily on the FIRST phrase query
    * of a driver-cacheable engine, and only when the corpus itself is small
    * enough to pin (the threshold is docs, since text width dominates). With
    * it, the byte-exact literal recheck of a phrase is pure CPU — zero Spark
    * jobs — which is what takes a hot-pair phrase from seconds (hundreds of
    * serial 64-doc recheck jobs, the round-2 p95) to milliseconds.
    */
  @transient private lazy val driverCorpus: (Array[Long], Array[Array[Byte]]) = {
    // UTF-8 bytes, not String: half the heap of a String cache (so the
    // serving tier's GC stays calm) and the per-recheck
    // UTF8String.fromString re-encode disappears — fromBytes wraps the
    // array with zero copy
    val rows = readPinned("corpus")
      .select($"docId", encode($"text", "UTF-8"))
      .as[(Long, Array[Byte])].collect()
    java.util.Arrays.sort(rows, Ordering.by((r: (Long, Array[Byte])) => r._1))
    (rows.map(_._1), rows.map(_._2))
  }
  private def corpusCacheable: Boolean =
    driverCacheable && snapshot("corpus").rowCount <= driverCorpusDocsThreshold

  /** Sized executor for driver-side per-segment parallel work: bounded by the
    * session's advertised parallelism, shared across queries — the serving
    * tier stays predictable under concurrent phrase load instead of
    * oversubscribing cores through the unbounded global pool. Pools live in
    * the companion, keyed by size, so engine churn (a new engine per
    * snapshot refresh is the documented pattern) never accumulates threads.
    */
  @transient private lazy val segmentPool: java.util.concurrent.ExecutorService =
    QueryEngine.segmentPool(math.max(2, spark.sparkContext.defaultParallelism))

  /** Driver strategies: sort the fetched blocks of either row shape (read
    * through their shared [[BlockFields]]) by (segId, firstDoc) and split
    * them into one contiguous run per segment — one unit of per-segment
    * work, which [[QueryEngine.bySlot]] then splits by query slot.
    */
  private def segmentRuns[B <: BlockFields](all: Array[B]): Vector[Iterator[B]] = {
    java.util.Arrays.sort(all, QueryEngine.bySegThenFirstDoc)
    val runs = Vector.newBuilder[Iterator[B]]
    var s = 0
    while (s < all.length) {
      var e = s
      while (e < all.length && all(e).segId == all(s).segId) e += 1
      runs += all.iterator.slice(s, e)
      s = e
    }
    runs.result()
  }

  /** Exact top-k of a per-segment `kernel` over the posting blocks of
    * `ids`, by three physical strategies with identical semantics (the
    * analog of the reference's single-chunk inline fast path,
    * krep.c:2886-2889):
    *  - a driver-cacheable index: blocks from the driver-resident cache, the
    *    kernel inline per segment run — zero Spark jobs;
    *  - a query whose total posting count `postings` (Σ df, known for free
    *    from the dict lookup) is small: one pruned-scan job, the kernel
    *    inline per segment run;
    *  - otherwise the kernel fans out per segment across executors.
    */
  private def topKBySegment(ids: Array[Long], postings: Long, k: Int)(
      kernel: Iterator[PostingBlock] => Iterator[ScoredDoc]): Array[ScoredDoc] = {
    def inline(all: Array[PostingBlock]): Array[ScoredDoc] =
      segmentRuns(all).flatMap(kernel)
        .toArray.sortBy(d => (-d.score, d.docId)).take(k)
    if (driverCacheable)
      return inline(ids.flatMap(id => driverBlocks.getOrElse(id, Array.empty[PostingBlock])))
    val blocks = postingsDs.filter($"termId".isin(ids.toSeq: _*)).as[PostingBlock]
    if (postings <= localPostingsThreshold) inline(blocks.collect())
    else blocks.groupByKey(_.segId).flatMapGroups((_, it) => kernel(it))
      .orderBy($"score".desc, $"docId".asc).limit(k).collect()
  }

  private def lookupTerms(terms: Array[String]): Array[TermMeta] =
    if (terms.isEmpty) Array.empty
    else dict.lookup(terms).zipWithIndex.collect { case (Some((id, df)), i) =>
      TermMeta(i, id, df, Bm25.idf(stats.n, df))
    }

  /** Exact top-k (docId, score), ties docId ASC — rank-identical to the
    * brute-force oracle.
    *
    * Per-segment block-max WAND under the three strategies of
    * [[topKBySegment]].
    */
  def search(query: String, k: Int): Array[ScoredDoc] =
    searchTerms(canonicalTerms(query), k)

  /** Multi-pattern query mode (SURVEY.md §3.4): each literal pattern expands
    * to every dictionary term CONTAINING it (krep substring semantics: the
    * same Aho-Corasick matcher the text filters use, run over the terms the
    * dict's trigram index admits when every pattern is at least 3 bytes,
    * else over the whole dict), and the union of expansions runs as a
    * disjunctive block-max-WAND BM25 — the index-side analog of
    * `krep -e p1 -e p2`.
    */
  def searchMultiPattern(patterns: Seq[String], k: Int,
      caseSensitive: Boolean = true, maxExpand: Int = 1024): Array[ScoredDoc] =
    searchTerms(expandPatterns(
      graft.krep.KrepParams(patterns, caseSensitive = caseSensitive),
      maxExpand), k)

  /** Regex query mode: dictionary terms matching the pattern (krep regex
    * semantics), ranked as a disjunction — the analog of `krep -E`.
    */
  def searchRegex(pattern: String, k: Int, maxExpand: Int = 1024): Array[ScoredDoc] =
    searchTerms(expandPatterns(
      graft.krep.KrepParams(Seq(pattern), regex = true, overlapping = false),
      maxExpand), k)

  /** Dict-side pattern expansion ([[TermDict.expand]]): the matching terms
    * with the `maxExpand` highest dfs, term-sorted.
    */
  def expandPatterns(params: graft.krep.KrepParams, maxExpand: Int)
      : Array[String] =
    dict.expand(params, maxExpand)

  /** Exact disjunctive top-k over an explicit canonical (distinct, sorted)
    * term set — the kernel behind [[search]]/[[searchMultiPattern]]/
    * [[searchRegex]].
    */
  def searchTerms(terms: Array[String], k: Int): Array[ScoredDoc] = {
    val metas = lookupTerms(terms)
    if (metas.isEmpty) return Array.empty
    val ids = metas.map(_.termId)
    val idxOf = metas.map(m => m.termId -> m.termIdx).toMap
    val nTerms = metas.map(_.termIdx).max + 1
    val idfs = new Array[Double](nTerms)
    metas.foreach(m => idfs(m.termIdx) = m.idf)
    val avgdl = stats.avgdl
    val k0 = k

    def wandOnSegment(segBlocks: Iterator[PostingBlock]): Iterator[ScoredDoc] =
      BlockMaxWand.topK(bySlot(segBlocks, nTerms)(idxOf), idfs, avgdl, k0).iterator

    topKBySegment(ids, metas.map(_.df).sum, k)(wandOnSegment)
  }

  /** Conjunctive query mode with optional exclusion: exact BM25 top-k over
    * docs containing ALL query terms and NONE of the `exclude` terms — the
    * index lift of AND/NOT-composing krep scans (`krep p1 | krep p2`,
    * negation being the pipe stage a shell user writes as `grep -v`; the
    * reference's own multi-pattern mode is the disjunction). Same three
    * physical strategies as [[searchTerms]]; the per-segment kernel is the
    * positions-free leapfrog intersection ([[ConjunctiveSearch]]) with
    * exclusion cursors vetoing aligned docs. A query term absent from the
    * dictionary empties the result by definition; an ABSENT excluded term is
    * a no-op (nothing to veto), and a term that is both required and
    * excluded empties the result. Excluded terms never contribute score.
    *
    * Scale: an exclusion slot costs exactly one more positions-free merge
    * cursor over that term's pruned posting blocks — proportional to the
    * excluded term's posting size, never a corpus scan, and the parquet
    * `termId IN` pushdown covers positive and excluded ids in one scan.
    */
  def searchConjunctive(query: String, k: Int,
      exclude: String = ""): Array[ScoredDoc] = {
    val terms = canonicalTerms(query)
    if (terms.isEmpty) return Array.empty
    val exclTerms = canonicalTerms(exclude)
    if (exclTerms.exists(terms.contains)) return Array.empty // p AND NOT p
    val metas = lookupTerms(terms)
    if (metas.length < terms.length) return Array.empty // a term is absent
    val exclMetas = lookupTerms(exclTerms) // absent excluded terms drop out
    val ids = metas.map(_.termId) ++ exclMetas.map(_.termId)
    val nSlots = terms.length
    // excluded terms take the slots after the query terms'
    val slotOf = (metas.map(m => m.termId -> m.termIdx) ++
      exclMetas.zipWithIndex.map { case (m, i) => m.termId -> (nSlots + i) }).toMap
    val idfs = new Array[Double](nSlots)
    metas.foreach(m => idfs(m.termIdx) = m.idf)
    val avgdl = stats.avgdl
    val k0 = k

    // per-segment top-k: match count within one segment is bounded by the
    // segment's doc span, and only <= k rows leave the segment
    def conjOnSegment(segBlocks: Iterator[PostingBlock]): Iterator[ScoredDoc] = {
      val (slots, excl) = bySlot(segBlocks, nSlots + exclMetas.length)(slotOf).splitAt(nSlots)
      ConjunctiveSearch.segmentMatches(slots, idfs, avgdl, excl)
        .toArray.sortBy(d => (-d.score, d.docId)).take(k0).iterator
    }

    topKBySegment(ids, metas.map(_.df).sum + exclMetas.map(_.df).sum, k)(
      conjOnSegment)
  }

  /** Exact phrase search (SURVEY.md §3.4), positional-index path:
    *
    *  1. positional candidates from the index alone — per-segment zipper
    *     intersection over the phrase terms' posting cursors, keeping only
    *     docs where the tokens sit at consecutive token ordinals
    *     ([[PhraseSearch]]). No per-posting shuffle: the only exchange moves
    *     compressed blocks grouped by segment, and only on the distributed
    *     strategy.
    *  2. byte-exact literal re-check (reference memcmp semantics,
    *     krep.c:1312) against the corpus text of the POSITIONAL candidates
    *     only — point lookups via docId pushdown (the corpus is written in
    *     docId order), proportional to true phrase hits, never to a hot
    *     term's posting count. This catches case/separator mismatches that
    *     token adjacency admits (e.g. sentence-capitalized first words).
    *  3. BM25 order (score DESC, docId ASC), top-k.
    *
    * Strategies and the relations they build:
    *  - distributed (neither blocks nor candidates fit the driver): a
    *    postings scan, and the corpus relation with the literal filter for
    *    the recheck join;
    *  - driver-cacheable index and corpus: the driver-resident blocks and
    *    corpus text, loaded once per engine; a warm call builds no
    *    relation, reads no file and launches no Spark job;
    *  - otherwise: the driver-resident blocks or one postings scan, then the
    *    corpus relation with the literal filter for the batched point
    *    lookups.
    */
  def searchPhrase(phrase: String, k: Int): Array[ScoredDoc] = {
    import graft.krep.{KrepParams, functions => K}
    val phraseToks = KrepTokenize.tokenize(UTF8String.fromString(phrase))
      .map(_.toString)
    if (phraseToks.isEmpty) return Array.empty
    val terms = canonicalTerms(phrase)
    val metas = lookupTerms(terms)
    if (metas.length < terms.length) return Array.empty // a term is absent
    val ids = metas.map(_.termId)
    val slotOfTermId = metas.map(m => m.termId -> m.termIdx).toMap
    val nSlots = terms.length
    val slotOfTerm = terms.zipWithIndex.toMap
    val slotOffsets: Array[Array[Int]] = {
      val bufs = Array.fill(nSlots)(Vector.newBuilder[Int])
      phraseToks.zipWithIndex.foreach { case (t, i) => bufs(slotOfTerm(t)) += i }
      bufs.map(_.result().toArray)
    }
    val idfs = new Array[Double](nSlots)
    metas.foreach(m => idfs(m.termIdx) = m.idf)
    val avgdl = stats.avgdl

    def segMatches(segBlocks: Iterator[PosPostingBlock]): Iterator[(Long, Double)] =
      PhraseSearch.segmentMatches(bySlot(segBlocks, nSlots)(slotOfTermId),
        slotOffsets, idfs, avgdl)

    def posBlocksScan = readPinned("postings")
      .filter($"termId".isin(ids.toSeq: _*))
      .as[PosPostingBlock]

    // driver strategies intersect segments IN PARALLEL — segments are
    // independent by construction, so the serving tier uses all its cores
    // on one phrase instead of walking a hot term's blocks single-threaded;
    // results merge by a deterministic final sort
    def matchSegmentsParallel(all: Array[PosPostingBlock]): Array[(Long, Double)] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(segmentPool)
      val futs = segmentRuns(all).map { run =>
        Future(segMatches(run).toArray)
      }
      Await.result(Future.sequence(futs), Duration.Inf).toArray.flatten
    }

    // the corpus relation and the literal recheck over it: built only by
    // the distributed join and the batched point lookups below
    def corpus = readPinned("corpus").select($"docId", $"text")
    def literal = K.krep_contains($"text", KrepParams(Seq(phrase)))

    // distributed strategy (the 10^12-doc route): candidates NEVER collect
    // to the driver — the literal recheck is a distributed equi-join on
    // docId (work ∝ candidates, spread across executors), then only k rows
    // come back. The candidate set is persisted so its (min, max) docId
    // range — one tiny agg over the cached rows — prunes the corpus scan
    // BEFORE the join: the corpus is written in docId order, so the range
    // predicate pushes down to parquet row-group min/max and the recheck
    // never reads corpus row groups outside the candidate span.
    if (!driverCacheable && metas.map(_.df).sum > localPostingsThreshold) {
      val cand = posBlocksScan
        .groupByKey(_.segId)
        .flatMapGroups((_, it) => segMatches(it))
        .toDF("docId", "score")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val rng = cand.agg(min($"docId"), max($"docId")).head()
        if (rng.isNullAt(0)) return Array.empty
        return cand
          .join(corpus.filter($"docId".between(rng.getLong(0), rng.getLong(1))),
            "docId")
          .filter(literal)
          .select($"docId", $"score")
          .orderBy($"score".desc, $"docId".asc)
          .limit(k)
          .as[(Long, Double)]
          .collect()
          .map { case (d, s) => ScoredDoc(d, s) }
      } finally cand.unpersist()
    }

    // driver strategies: per-segment parallel intersection on the driver
    val candidates: Array[(Long, Double)] =
      if (driverCacheable) {
        matchSegmentsParallel(metas.iterator
          .flatMap(m => driverPosBlocks.getOrElse(m.termId,
            Array.empty[PosPostingBlock]))
          .toArray)
      } else {
        matchSegmentsParallel(posBlocksScan.collect())
      }
    if (candidates.isEmpty) return Array.empty

    // literal re-check in SCORE-DESCENDING order: the recheck only REMOVES
    // candidates (case/separator mismatches token adjacency admits), so the
    // first k survivors in score order ARE the exact top-k.
    val sorted = candidates.sortBy(c => (-c._2, c._1))

    if (corpusCacheable) {
      // serving-tier recheck: pure CPU against the pinned corpus — zero
      // Spark jobs, proportional to candidates actually visited before the
      // kth confirmation (reference memcmp semantics via the same matcher
      // the distributed filter compiles)
      val m = new graft.krep.KrepMatcher(KrepParams(Seq(phrase)))
      val (docIds, texts) = driverCorpus
      val out = Vector.newBuilder[ScoredDoc]
      var found = 0
      var i = 0
      while (found < k && i < sorted.length) {
        val (d, s) = sorted(i)
        val at = java.util.Arrays.binarySearch(docIds, d)
        if (at >= 0 && m.contains(UTF8String.fromBytes(texts(at)))) {
          out += ScoredDoc(d, s)
          found += 1
        }
        i += 1
      }
      return out.result().toArray
    }

    // batched point lookups, GEOMETRICALLY grown: a phrase whose candidates
    // mostly fail the recheck (sentence-capitalized first words are common)
    // must not pay hundreds of serial ~100 ms jobs — batch 1 confirms a
    // well-behaved top-k in one pruned lookup, and the exponent bounds the
    // worst case at O(log(candidates)) jobs (the corpus is written in docId
    // order, so docId IN (...) prunes row groups).
    val out = Vector.newBuilder[ScoredDoc]
    var batchSize = math.max(4 * k, 64)
    var taken = 0
    var found = 0
    while (found < k && taken < sorted.length) {
      val batch = sorted.slice(taken, taken + batchSize)
      taken += batch.length
      batchSize = math.min(batchSize * 4, 65536)
      val confirmed = corpus
        .filter($"docId".isin(batch.map(_._1).toSeq: _*))
        .filter(literal).select($"docId").as[Long].collect().toSet
      batch.iterator.filter(c => confirmed(c._1)).foreach { case (d, s) =>
        if (found < k) { out += ScoredDoc(d, s); found += 1 }
      }
    }
    out.result().toArray
  }

  /** The pinned docs relation (docId, url, dl) — lets callers resolve result
    * docIds back to their source keys without re-reading an unpinned table.
    */
  def docsDf: DataFrame = readPinned("docs")

  /** The pinned corpus relation (docId, url, dl, text) — the scan relation
    * [[IndexFilterRewrite]] accelerates when this engine's root is
    * registered.
    */
  def corpusDf: DataFrame = readPinned("corpus")

  /** Top-k with urls resolved — the user-facing result relation. */
  def searchDf(query: String, k: Int): DataFrame = {
    val top = search(query, k)
    val topDf = spark.createDataFrame(
      top.toSeq.zipWithIndex.map { case (s, r) => (r + 1, s.docId, s.score) })
      .toDF("rank", "docId", "score")
    docsDf.join(broadcast(topDf), "docId")
      .select($"rank", $"docId", $"url", $"score")
      .orderBy($"rank")
  }
}

object QueryEngine {
  final case class TermMeta(termIdx: Int, termId: Long, df: Long, idf: Double)

  private val bySegThenFirstDoc: java.util.Comparator[BlockFields] =
    java.util.Comparator.comparingLong[BlockFields](_.segId)
      .thenComparingLong(_.firstDoc)

  /** One segment's blocks bucketed by query slot (`slotOf(termId)`, one of
    * `nSlots`), each bucket sorted by firstDoc — the per-segment input of
    * every kernel.
    */
  private def bySlot[B <: BlockFields: ClassTag](segBlocks: Iterator[B],
      nSlots: Int)(slotOf: Long => Int): Array[Array[B]] = {
    val all = segBlocks.toArray
    java.util.Arrays.sort(all, bySegThenFirstDoc)
    val bucketed = all.groupBy(b => slotOf(b.termId))
    Array.tabulate(nSlots)(s => bucketed.getOrElse(s, Array.empty[B]))
  }

  /** JVM-wide per-size daemon pools for driver-side segment work — engines
    * come and go with snapshots, threads must not.
    */
  private val pools =
    new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.ExecutorService]
  private[query] def segmentPool(size: Int): java.util.concurrent.ExecutorService =
    pools.computeIfAbsent(size, n =>
      java.util.concurrent.Executors.newFixedThreadPool(n,
        new java.util.concurrent.ThreadFactory {
          private val c = new java.util.concurrent.atomic.AtomicInteger
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-segments-$n-${c.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        }))
}
