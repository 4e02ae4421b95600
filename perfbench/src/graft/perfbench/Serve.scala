package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{octet_length, sum}
import org.apache.spark.unsafe.types.UTF8String

import graft.corpus.SynthWebText
import graft.index.{IceTable, IndexCompactor, PosPostingBlock, PostingBlock}
import graft.krep.{KrepMatcher, KrepParams, functions => K}
import graft.query.{BlockMaxWand, Bm25, NaiveSearch, QueryEngine, ScoredDoc}
import graft.streaming.StreamingIndexer

/** `serve`: read-only, closed loop, 4 clients against one warm
  * `QueryEngine`. Set-up builds, appends to, compacts and vacuums the index
  * of a seeded corpus; every client sends its next query when the previous
  * one returns.
  */
object Serve {
  val Docs = 3000
  val Fresh = 500
  val Redeliver = 0.1
  val Clients = 4
  val PoolSize = 400
  val TopK = 10

  def sameAnswer(a: Array[ScoredDoc], b: Array[ScoredDoc]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      a(i).docId == b(i).docId &&
        java.lang.Double.doubleToLongBits(a(i).score) == java.lang.Double.doubleToLongBits(b(i).score))

  def exec(engine: QueryEngine, tracer: Tracer, q: Query, req: Long): Array[ScoredDoc] =
    tracer.span(s"query.${q.cls}", req) {
      q match {
        case TermQ(t) => engine.search(t, TopK)
        case ConjQ(t, ex) => engine.searchConjunctive(t, TopK, ex)
        case PhraseQ(p) => engine.searchPhrase(p, TopK)
        case PatternQ(ps) => engine.searchMultiPattern(ps, TopK)
        case RegexQ(r) => engine.searchRegex(r, TopK)
      }
    }

  def run(spark: SparkSession, rep: Report, tracer: Tracer, seed: Long,
      seconds: Double, work: String): Unit = {
    import spark.implicits._
    // set-up, timed as a whole: the index a search tier would serve —
    // built from a base corpus, then one appended batch of fresh pages that
    // re-offers 10% of the committed urls, compacted, old snapshots
    // expired and vacuumed — and the engine opened with a first query.
    // Set-up runs once: the first build in a JVM is dominated by class
    // loading and JIT, and a second one does not fit the run's time budget.
    // The pages are input, generated once before it and held in memory.
    val pages = SynthWebText.pages(spark, Docs + Fresh, seed, numPartitions = 4).cache()
    val g0 = System.nanoTime()
    pages.count()
    rep.ctx("input_s", Report.secsSince(g0))
    val rng0 = new Rng(seed ^ 0xba7cL)
    val again = Seq.fill((Docs * Redeliver).toInt)(rng0.nextInt(Docs).toLong).distinct
    val pool = Queries.pool(seed, PoolSize, Docs + Fresh)
    val root = s"$work/serve-index"
    val ice = new IceTable(root, spark.sparkContext.hadoopConfiguration)
    val secs = scala.collection.mutable.Map.empty[String, Double]
    def step[A](name: String)(body: => A): A = {
      val t = System.nanoTime()
      try tracer.span(name)(body) finally secs(name) = Report.secsSince(t)
    }
    val t0 = System.nanoTime()
    step("index.build")(Layers.build(spark, root, pages.filter(Layers.docSeq < Docs)))
    Layers.stepSeconds(spark, root).foreach { case (s, v) => rep.layer(s"index.step.${s}_s") = (v, "s") }
    step("streaming.append")(new StreamingIndexer(spark, root, Layers.Cfg)
      .appendBatch(pages.filter(Layers.docSeq >= Docs || Layers.docSeq.isin(again: _*))))
    val compactor = new IndexCompactor(spark, root, Layers.Cfg)
    rep.layer("index.compact_rewritten_mb") =
      (Seq("postings", "dict").map(t => Layers.parquetBytes(ice.tablePath(t))).sum / 1048576.0, "MB")
    step("index.compact_postings")(compactor.compactPostings())
    step("index.compact_dict")(compactor.compactDictionary())
    rep.layer("ice.snapshots") = (Layers.countFiles(s"$root/snapshots", ".json").toDouble, "count")
    step("ice.expire")(ice.expireSnapshots(1))
    step("ice.vacuum")(Layers.Steps.foreach(ice.vacuum))
    rep.layer("ice.files") = (Layers.countFiles(s"$root/data", ".parquet").toDouble, "count")
    val engine = step("query.engine_open") {
      val e = new QueryEngine(spark, root)
      e.search(pool.collectFirst { case TermQ(t) => t }.get, TopK)
      e
    }
    rep.e2e("setup_s") = (Report.secsSince(t0), "s")
    rep.layer("index.build_docs_s") = (Docs / secs("index.build"), "docs/s")
    Seq("index.compact_postings", "index.compact_dict", "ice.expire", "ice.vacuum",
      "streaming.append").foreach(n => rep.layer(s"${n}_s") = (secs(n), "s"))
    rep.layer("streaming.append_p50_s") = (secs("streaming.append"), "s")
    rep.layer("streaming.append_docs_s") = (Fresh / Seq("streaming.append", "index.compact_postings",
      "index.compact_dict").map(secs).sum, "docs/s")
    rep.layer("query.engine_open_ms") = (secs("query.engine_open") * 1000, "ms")
    rep.layer("streaming.fresh_frac") = (Fresh.toDouble / (Fresh + again.size), "frac")
    val textBytes = engine.corpusDf.agg(sum(octet_length($"text"))).head().getLong(0)
    rep.layer("index.space_amp") = (Layers.parquetBytes(s"$root/data").toDouble / textBytes, "x")
    rep.ctx("serve_docs", Docs + Fresh)
    rep.ctx("serve_segments", math.ceil((Docs + Fresh).toDouble / Layers.Cfg.docsPerSegment).toInt)

    // closed loop: a warm-up that runs every pooled query once (answers
    // recorded, latencies not), so that the window times warm code and
    // caches and repeats only; then the window
    val first = new ConcurrentHashMap[Int, Array[ScoredDoc]]
    val reqIds = new java.util.concurrent.atomic.AtomicLong
    def one(qi: Int, lat: ArrayBuffer[(String, Double)]): Unit = {
      val q = pool(qi)
      rep.attempted.incrementAndGet()
      val t0 = System.nanoTime()
      try {
        val res = exec(engine, tracer, q, reqIds.incrementAndGet())
        if (lat != null) lat += q.cls -> (System.nanoTime() - t0) / 1e6
        val prev = first.putIfAbsent(qi, res)
        if (prev != null) rep.check(sameAnswer(prev, res), s"repeat of ${q.key} changed its answer")
      } catch { case e: Exception => rep.fail(s"${q.key}: $e") }
    }
    val lats = Array.fill(Clients)(ArrayBuffer.empty[(String, Double)])
    val allocs = new Array[Long](Clients)
    val pool4 = java.util.concurrent.Executors.newFixedThreadPool(Clients)
    try {
      val streams = (0 until Clients).map(c => Queries.stream(seed, c, PoolSize))
      (0 until Clients).map(c => pool4.submit(new Runnable {
        def run(): Unit = tracer.window((c until PoolSize by Clients).foreach(one(_, null)))
      })).foreach(_.get())
      System.gc() // the live set with the engine's caches filled
      val (gcN0, gcMs0) = Jvm.gcTotals()
      val up0 = Jvm.uptimeMillis
      val w0 = System.nanoTime()
      (0 until Clients).map(c => pool4.submit(new Runnable {
        def run(): Unit = {
          val a0 = Jvm.allocatedBytes()
          tracer.window {
            val deadline = System.nanoTime() + (seconds * 1e9).toLong
            while (System.nanoTime() < deadline) one(streams(c).next(), lats(c))
          }
          allocs(c) = Jvm.allocatedBytes() - a0
        }
      })).foreach(_.get())
      val windowS = Report.secsSince(w0)
      val (gcN1, gcMs1) = Jvm.gcTotals()
      val all = lats.flatten.toSeq
      val ms = all.map(_._2)
      rep.e2e("ops_s") = (all.size / windowS, "1/s")
      rep.e2e("op_p50_ms") = (Report.pct(ms, 0.5), "ms")
      rep.e2e("op_p99_ms") = (Report.pct(ms, 0.99), "ms")
      Seq("term", "conj", "phrase", "pattern", "regex").foreach { c =>
        val xs = all.filter(_._1 == c).map(_._2)
        rep.layer(s"query.${c}_p50_ms") = (Report.pct(xs, 0.5), "ms")
        rep.layer(s"query.${c}_p99_ms") = (Report.pct(xs, 0.99), "ms")
        rep.ctx(s"serve_${c}_samples", xs.size)
      }
      rep.layer("query.alloc_kb_per_query") = (allocs.sum / 1024.0 / math.max(1, all.size), "KiB")
      rep.layer("jvm.gc_count") = ((gcN1 - gcN0).toDouble, "count")
      rep.layer("jvm.gc_pause_ms") = ((gcMs1 - gcMs0).toDouble, "ms")
      rep.layer("jvm.gc_max_pause_ms") = (Jvm.maxPauseMillis(up0).toDouble, "ms")
      rep.ctx("serve_window_s", windowS)
      rep.ctx("serve_window_queries", all.size)
    } finally pool4.shutdown()

    // untimed correctness: oracle sample, phrase membership
    val c0 = System.nanoTime()
    val rng = new Rng(seed ^ 0x0cac1eL)
    def answer(qi: Int): Array[ScoredDoc] =
      Option(first.get(qi)).getOrElse(exec(engine, new Tracer(false), pool(qi), 0L))
    def sample(p: Query => Boolean, n: Int): Seq[Int] = {
      val idx = pool.indices.filter(i => p(pool(i)))
      Seq.fill(n)(idx(rng.nextInt(idx.size))).distinct
    }
    // NaiveSearch numbers documents by url rank over all pages, the grown
    // index numbers appended pages after the base: compare by url
    val urlOfRank = pages.select($"url").as[String].collect().sorted
    val urlOfDoc = engine.docsDf.select($"docId", $"url").as[(Long, String)].collect().toMap
    val terms = sample(_.isInstanceOf[TermQ], 1)
    val conjs = sample({ case ConjQ(_, ex) => ex.nonEmpty; case _ => false }, 1)
    (terms ++ conjs).foreach { qi =>
      val want = pool(qi) match {
        case TermQ(t) => NaiveSearch.topK(spark, pages, t, TopK, partitions = 4)
        case ConjQ(t, ex) => NaiveSearch.topK(spark, pages, t, TopK, partitions = 4,
          conjunctive = true, exclude = ex)
        case _ => Array.empty[ScoredDoc]
      }
      rep.attempted.incrementAndGet()
      rep.check(Layers.sameByUrl(want.map(d => (d.score, urlOfRank(d.docId.toInt))),
        answer(qi).map(d => (d.score, urlOfDoc(d.docId))), TopK),
        s"${pool(qi).key} differs from NaiveSearch")
    }
    val corpus = engine.corpusDf
    val phrases = sample(_.isInstanceOf[PhraseQ], 2)
    phrases.foreach { qi =>
      val p = pool(qi).asInstanceOf[PhraseQ].text
      val hits = corpus.filter(K.krep_contains($"text", KrepParams(Seq(p), wholeWord = true)))
        .select($"docId").as[Long].collect().toSet
      val got = answer(qi)
      rep.attempted.incrementAndGet()
      rep.check(got.forall(d => hits(d.docId)) && got.length == math.min(TopK, hits.size),
        s"phrase '$p': ${got.length} results vs ${hits.size} literal hits")
    }
    rep.checks("serve_oracle") =
      s"${terms.size + conjs.size} NaiveSearch probes, ${phrases.size} phrase scans"
    pages.unpersist()
    rep.ctx("phase_checks_s", Report.secsSince(c0))

    if (tracer.enabled) traced(spark, rep, tracer, engine, root, pool)
  }

  /** Traced-run-only layer probes: WAND on pre-fetched blocks, block
    * decode, literal recheck of phrase candidates, tokenizer throughput and
    * the Spark work of the build.
    */
  private def traced(spark: SparkSession, rep: Report, tracer: Tracer,
      engine: QueryEngine, root: String, pool: IndexedSeq[Query]): Unit = {
    import spark.implicits._
    val spans = tracer.all
    // dictionary expansion of the pooled pattern and regex queries, as
    // searchMultiPattern and searchRegex call it
    val expandMs = pool.collect {
      case PatternQ(ps) => KrepParams(ps)
      case RegexQ(r) => KrepParams(Seq(r), regex = true, overlapping = false)
    }.map { p =>
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        engine.expandPatterns(p, 1024)
        (System.nanoTime() - t0) / 1e6
      }.min
    }
    rep.layer("query.expand_ms") = (if (expandMs.isEmpty) 0.0 else expandMs.sum / expandMs.size, "ms")
    val querySpans = spans.filter(s => s.name.startsWith("query.") && s.parent == 0 &&
      s.name != "query.engine_open")
    val (qJobs, _, _, _) = Layers.sparkWork(tracer, querySpans)
    rep.layer("query.spark_jobs_per_query") = (qJobs.toDouble / math.max(1, querySpans.size), "count")
    val (jobs, shuffle, spill, skew) = Layers.sparkWork(tracer, spans.filter(_.name == "index.build"))
    rep.layer("index.spark_jobs") = (jobs.toDouble, "count")
    rep.layer("index.shuffle_write_mb") = (shuffle, "MB")
    rep.layer("index.spill_mb") = (spill, "MB")
    rep.layer("index.task_skew") = (skew, "x")
    val (aJobs, aShuffle, _, _) = Layers.sparkWork(tracer, spans.filter(_.name == "streaming.append"))
    rep.layer("streaming.shuffle_write_mb") = (aShuffle, "MB")
    rep.layer("streaming.spark_jobs_per_append") = (aJobs.toDouble, "count")

    // blocks of the pool's term queries, fetched once; WAND and decode time
    // on the driver over exactly those blocks
    val ice = new IceTable(root, spark.sparkContext.hadoopConfiguration)
    val dict = ice.readTable(spark, "dict").select($"term", $"termId", $"df")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val termQs = pool.collect { case TermQ(t) => engine.canonicalTerms(t).filter(dict.contains) }
      .filter(_.nonEmpty).distinct.take(40)
    val ids = termQs.flatten.map(t => dict(t)._1).distinct
    val blocks = ice.readTable(spark, "postings").filter($"termId".isin(ids: _*))
      .as[PosPostingBlock].collect()
    rep.layer("codec.decode_mb_s") = (Layers.decodeMbS(blocks), "MB/s")
    val byTerm = blocks.map(b => PostingBlock(b.termId, b.segId, b.firstDoc, b.lastDoc,
      b.n, b.maxTf, b.minDl, b.docs, b.tfs, b.dls)).groupBy(_.termId)
    val n = engine.stats.n
    val wandMs = termQs.map { terms =>
      val tids = terms.map(t => dict(t)._1)
      val idfs = terms.map(t => Bm25.idf(n, dict(t)._2))
      val segs = tids.flatMap(byTerm.getOrElse(_, Array.empty[PostingBlock])).map(_.segId).distinct
      val perSeg = segs.map(s => tids.map(id =>
        byTerm.getOrElse(id, Array.empty[PostingBlock]).filter(_.segId == s).sortBy(_.firstDoc)))
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        perSeg.foreach(tb => BlockMaxWand.topK(tb, idfs, engine.stats.avgdl, TopK))
        (System.nanoTime() - t0) / 1e6
      }.min
    }
    rep.layer("query.wand_ms") = (if (wandMs.isEmpty) 0.0 else wandMs.sum / wandMs.size, "ms")

    // literal recheck of each pooled phrase over the texts of its answer
    val textOf = engine.corpusDf.select($"docId", $"text").as[(Long, String)].collect().toMap
    val recheck = pool.collect { case PhraseQ(p) =>
      val m = new KrepMatcher(KrepParams(Seq(p)))
      val cands = engine.searchPhrase(p, TopK).map(d => UTF8String.fromString(textOf(d.docId)))
      val t0 = System.nanoTime()
      cands.foreach(m.contains)
      (System.nanoTime() - t0) / 1e6
    }
    rep.layer("query.recheck_ms") = (if (recheck.isEmpty) 0.0 else recheck.sum / recheck.size, "ms")
    rep.layer("krep.tokenize_mb_s") =
      (Layers.tokenizeMbS(textOf.values.take(1000).map(UTF8String.fromString).toArray), "MB/s")
  }
}
