package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._

import graft.krep.{KrepParams, functions => K}
import graft.ops.{AnnOps, DedupCluster, TextOps}
import graft.query.Bm25Df

/** The driver-facing operator surface: every implemented operator exposed as
  * a query over the `/root/testdata` tables, with an ANSI-SQL mirror for the
  * DuckDB oracle. Column names, types (BIGINT counts, INTEGER ranks) and row
  * order (always a unique ORDER BY) match the SQL exactly; float-valued
  * results are mapped to exact integer domains (cents / basis points) so the
  * hash compare is engine-independent.
  */
object EntryQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftParquet.read(s, s"$dir/$name.parquet")

  /** One inverted index per sf dir, built lazily and shared by the three
    * index-mode queries (phrase / multi-pattern / regex) — the driver runs
    * them in one JVM, so the build cost is paid once. The url encodes the
    * source doc_id zero-padded, so dense docId assignment (ordered by url)
    * preserves doc_id order and results map back by parsing the url.
    */
  // Keyed by (session, dir): a QueryEngine captures its SparkSession, so a
  // cache keyed by dir alone would hand a later session an engine bound to a
  // possibly-stopped one. Temp index dirs are registered for deletion at JVM
  // exit so repeated Bench/Verify runs don't accumulate under /tmp.
  private val engineCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), graft.query.QueryEngine]
  private def deleteRecursivelyOnExit(root: String): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(q => java.nio.file.Files.deleteIfExists(q))
    }))
  private def indexEngine(s: SparkSession, dir: String): graft.query.QueryEngine =
    engineCache.computeIfAbsent((s, dir), _ => {
      import s.implicits._
      val pages = t(s, dir, "documents").select(
        format_string("doc%08d", $"doc_id").as("url"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("warc_ts"),
        encode($"text", "UTF-8").as("html"),
        $"text", $"lang").as[graft.corpus.Page]
      val root = java.nio.file.Files.createTempDirectory("graft-entryidx-").toString
      deleteRecursivelyOnExit(root)
      new graft.index.IndexBuilder(s, root,
        graft.index.IndexConfig(blockSize = 64, docsPerSegment = 512,
          partitions = 8)).build(pages)
      new graft.query.QueryEngine(s, root)
    })

  /** Force the shared index build for `dir` NOW and report its cost in
    * seconds (0.0 when already cached). Bench calls this before its timed
    * per-query loop so the one-time build is its own metric instead of
    * landing on whichever index-mode query happens to run first — round 4's
    * `conj_not_topk` read as a 30x outlier for exactly this reason.
    */
  def prebuildSharedIndex(s: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    indexEngine(s, dir)
    (System.nanoTime() - t0) / 1e9
  }

  /** Lifecycle index per (session, dir): the documents table lands in TWO
    * streaming appends split at max(doc_id)/2, then one full compaction.
    * `_1` is the head engine (post-compaction snapshot); `_2` is pinned to
    * the FIRST append's snapshot — read after two further commits exist,
    * which is the time-travel claim under test (snapshot isolation through
    * an append AND a compaction rewrite; vacuum never runs here, so the old
    * snapshot's files are all still present). The batches split by doc_id
    * RANGE, not hash: append docIds continue the dense url-ranked sequence
    * (StreamingIndexer.appendBatch), so range-ordered batches keep internal
    * docId order == doc_id order and equal-score ties break identically in
    * the engine and in the SQL oracle's `ORDER BY score DESC, doc_id`.
    */
  private val lifecycleCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (graft.query.QueryEngine, graft.query.QueryEngine)]
  private def lifecycleEngines(s: SparkSession, dir: String)
      : (graft.query.QueryEngine, graft.query.QueryEngine) =
    lifecycleCache.computeIfAbsent((s, dir), _ => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val cut = docs.agg(max($"doc_id")).head.getLong(0) / 2
      def pages(d: DataFrame) = d.select(
        format_string("doc%08d", $"doc_id").as("url"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("warc_ts"),
        encode($"text", "UTF-8").as("html"),
        $"text", $"lang").as[graft.corpus.Page]
      val root = java.nio.file.Files.createTempDirectory("graft-entrylc-").toString
      deleteRecursivelyOnExit(root)
      val cfg = graft.index.IndexConfig(blockSize = 64, docsPerSegment = 512,
        partitions = 8)
      val indexer = new graft.streaming.StreamingIndexer(s, root, cfg)
      indexer.appendBatch(pages(docs.filter($"doc_id" < cut)))
      val firstSnap = indexer.ice.currentSnapshotId.get
      indexer.appendBatch(pages(docs.filter($"doc_id" >= cut)))
      val blocksBefore = indexer.ice.readTable(s, "postings").count()
      new graft.index.IndexCompactor(s, root, cfg).compactPostings()
      // evidence, not paranoia: terms straddling the two appends are
      // fragmented across commits, so a compaction that actually rewrote
      // must shrink the block count — a silent no-op would still answer
      // correctly, so the row has to fail loudly instead
      val blocksAfter = indexer.ice.readTable(s, "postings").count()
      require(blocksAfter < blocksBefore,
        s"lifecycle compaction was a no-op ($blocksBefore -> $blocksAfter blocks)")
      (new graft.query.QueryEngine(s, root),
        new graft.query.QueryEngine(s, root, snapshotId = Some(firstSnap)))
    })

  /** Force the lifecycle (append+append+compact) index build for `dir` NOW;
    * returns its cost in seconds (0.0 when already cached). Same rationale
    * as [[prebuildSharedIndex]]: Bench reports it as its own metric.
    */
  def prebuildLifecycleIndex(s: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    lifecycleEngines(s, dir)
    (System.nanoTime() - t0) / 1e9
  }

  /** (rnk, doc_id) relation of an index-path search result: docIds resolve
    * back to doc_id through the engine's own docs table (url round-trip).
    */
  private def indexTopK(s: SparkSession, dir: String)(
      run: graft.query.QueryEngine => Array[graft.query.ScoredDoc]): DataFrame =
    topKOf(s, indexEngine(s, dir))(run)

  private def topKOf(s: SparkSession, engine: graft.query.QueryEngine)(
      run: graft.query.QueryEngine => Array[graft.query.ScoredDoc]): DataFrame = {
    import s.implicits._
    val top = s.createDataFrame(
      run(engine).toSeq.zipWithIndex.map { case (sd, i) => (i + 1, sd.docId) })
      .toDF("rnk", "docId")
    engine.docsDf.join(broadcast(top), "docId")
      .select($"rnk".cast("int").as("rnk"),
        // everything after the "doc" prefix — a fixed-width substring would
        // silently truncate ids wider than the %08d format's minimum
        expr("substring(url, 4)").cast("long").as("doc_id"))
      .orderBy($"rnk")
  }

  private val enStop = Seq("the", "a", "and", "of", "to")
  private val deStop = Seq("der", "die", "das", "und", "ist")

  /** MinHash-banded LSH candidate pairs from a (doc_id, sig) relation:
    * explode to (band, bhash, doc_id), self-equi-join on (band, bhash), and
    * dedup BARE (id_a, id_b). Only ids ride the band-join and dedup
    * exchanges — at 100 TB the 32-slot signature arrays (~256 B/row) would
    * otherwise double-ship through the widest shuffle; callers join sig /
    * shingle payloads back for the deduped survivors only.
    */
  private def minhashBandPairs(d: DataFrame, bands: Int, rows: Int): DataFrame = {
    import d.sparkSession.implicits._
    // all band hashes in one codegen'd kernel call (identical values to the
    // per-band aggregate folds — OpsSpec pins it)
    val banded = d.select($"doc_id",
      posexplode(TextOps.bandHashesPolyAll($"sig", bands, rows)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bhash")
    banded.select($"band", $"bhash", $"doc_id".as("id_a"))
      .join(banded.select($"band", $"bhash", $"doc_id".as("id_b")),
        Seq("band", "bhash"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Confirmed near-dup pairs: banded candidates (bare ids through the
    * exchange), then the 32-slot signatures join back ONLY for the deduped
    * survivors to compute the MinHash Jaccard estimate; pairs below
    * `thresholdBps` are dropped. Shared by `minhash_pairs` (reports the
    * estimate) and `dedup_clusters` (uses the pairs as CC edges).
    */
  private def minhashConfirmedPairs(d: DataFrame, bands: Int, rows: Int,
      thresholdBps: Long): DataFrame = {
    import d.sparkSession.implicits._
    minhashBandPairs(d, bands, rows)
      .join(d.select($"doc_id".as("id_a"), $"sig".as("sig_a")), "id_a")
      .join(d.select($"doc_id".as("id_b"), $"sig".as("sig_b")), "id_b")
      .select($"id_a", $"id_b",
        (aggregate(zip_with($"sig_a", $"sig_b",
          (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v) * 10000L / size($"sig_a"))
          .cast("long").as("est_bps"))
      .filter($"est_bps" >= thresholdBps)
  }

  /** Deterministic clustered training sample for the trained-IVF oracle row:
    * `perCell` members around each of the 16 normalized ±1 sign-matrix
    * directions, each offset by a second deterministic ±1 pattern. Pure
    * arithmetic, no SparkSession — so the oracle-SQL generator reruns the
    * identical Lloyd training and embeds the identical trained matrix.
    */
  private def trainedIvfSample(nCells: Int = 16, dim: Int = 64,
      perCell: Int = 8): Array[Array[Float]] = {
    val centers = graft.ops.SignMatrix(nCells, dim, 7L)
    val noise = graft.ops.SignMatrix(nCells * perCell, dim, 99L)
    Array.tabulate(nCells * perCell) { r =>
      val c = centers(r % nCells)
      val e = noise(r)
      Array.tabulate(dim)(i => (c(i) + 0.3 * e(i)).toFloat)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core -------------------------------------------------
    "q1_agg" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").cast("long").as("sum_qty"),
          sum(round($"l_extendedprice" * 100).cast("long")).as("sum_price_cents"),
          count(lit(1)).as("cnt"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),
    "join_revenue_segment" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(round($"o_totalprice" * 100).cast("long")).as("revenue_cents"))
        .orderBy($"c_mktsegment")
    }),
    "topk_agg" -> ((s, dir) => { // typed bounded-heap aggregator (§2.9)
      import s.implicits._
      val ds = t(s, dir, "orders")
        .select($"o_orderkey".as("docId"), $"o_totalprice".as("score"))
        .as[graft.query.ScoredDoc]
      val top = ds.select(new graft.query.TopKAggregator(10).toColumn).head()
      s.createDataFrame(
        top.toSeq.zipWithIndex.map { case (d, i) => (i + 1, d.docId) })
        .toDF("rnk", "o_orderkey")
    }),
    "topk_per_group" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"o_custkey", $"o_orderkey", $"rn")
        .orderBy($"o_custkey", $"rn")
    }),
    "window_hourly" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(date_trunc("hour", $"ts").as("hour"))
        .agg(count(lit(1)).as("cnt"),
          sum(round($"value" * 100).cast("long")).as("value_cents"))
        .orderBy($"hour")
    }),

    // ---- krep match operators -------------------------------------------
    "krep_contains" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "part").filter(K.krep_contains($"p_name", "an"))
        .select($"p_partkey", $"p_name").orderBy($"p_partkey")
    }),
    "krep_contains_ac" -> ((s, dir) => { // --algo analog: forced AC kernel
      import s.implicits._
      t(s, dir, "part")
        .filter(K.krep_contains($"p_name", KrepParams(Seq("an"), algo = "ac")))
        .select($"p_partkey", $"p_name").orderBy($"p_partkey")
    }),
    "krep_contains_ci" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "part")
        .filter(K.krep_contains($"p_brand",
          KrepParams(Seq("brand#1"), caseSensitive = false)))
        .select($"p_partkey", $"p_brand").orderBy($"p_partkey")
    }),
    "krep_count_char" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "part")
        .select($"p_partkey", K.krep_count($"p_name", "a").as("a_cnt"))
        .orderBy($"p_partkey")
    }),
    "krep_whole_word" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .filter(K.krep_contains($"text",
          KrepParams(Seq("the"), wholeWord = true)))
        .select($"doc_id").orderBy($"doc_id")
    }),
    "krep_count_lines" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          K.krep_count_lines(regexp_replace($"text", "table", "\n"),
            KrepParams(Seq("value"))).as("n_lines"))
        .orderBy($"doc_id")
    }),
    "krep_multi_ac" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          K.krep_count($"text",
            KrepParams(Seq("spark", "merge", "window"))).as("n_hits"))
        .orderBy($"doc_id")
    }),
    "krep_matching_lines" -> ((s, dir) => { // the default grep projection (P7)
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          posexplode(split(regexp_replace($"text", "table", "\n"), "\n")))
        .filter(K.krep_contains($"col", "value"))
        .select($"doc_id", ($"pos" + 1).cast("int").as("ln"), $"col".as("line"))
        .orderBy($"doc_id", $"ln")
    }),
    "krep_max_count" -> ((s, dir) => { // the -m limiter (A3)
      import s.implicits._
      t(s, dir, "part")
        .select($"p_partkey",
          K.krep_count($"p_name", KrepParams(Seq("a"), maxCount = 2)).as("a_capped"))
        .orderBy($"p_partkey")
    }),
    "krep_regex_extract" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select($"event_id",
          explode(K.krep_regex_extract($"props", "[0-9]+")).as("tok"))
        .orderBy($"event_id", $"tok")
    }),
    "krep_positions" -> ((s, dir) => { // the signature positions operator (§2.9)
      import s.implicits._
      t(s, dir, "part")
        .select($"p_partkey",
          explode(K.krep_positions($"p_name", KrepParams(Seq("an")))).as("m"))
        .select($"p_partkey", $"m.start".as("st"), $"m.end".as("en"))
        .orderBy($"p_partkey", $"st")
    }),
    "krep_extract_ln" -> ((s, dir) => { // -o with grep-style line numbers (P6)
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", explode(K.krep_extract_lines(
          regexp_replace($"text", "table", "\n"),
          KrepParams(Seq("value")))).as("m"))
        .groupBy($"doc_id", $"m.ln".as("ln"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy($"doc_id", $"ln")
    }),
    "binary_prune" -> ((s, dir) => { // NUL-in-first-1024-bytes gate (S8)
      import s.implicits._
      // plant one NUL at a content-dependent byte offset; the gate must fire
      // exactly when that offset lands inside both the text and the 1 KiB
      // check window (independently mirrored by the oracle's arithmetic)
      val pos = (pmod($"doc_id" * 37, lit(2048)) + 1).cast("int")
      t(s, dir, "documents")
        .select($"doc_id", encode(
          when(pos <= length($"text"), overlay($"text", lit("\u0000"), pos))
            .otherwise($"text"), "UTF-8").as("payload"))
        .filter(K.krep_is_binary($"payload"))
        .select($"doc_id").orderBy($"doc_id")
    }),
    "prune_extensions" -> ((s, dir) => { // extension + .min. pruning (S7)
      import s.implicits._
      val exts = array(lit(".scala"), lit(".log"), lit(".md"), lit(".jpg"),
        lit(".txt"), lit(".min.js"), lit(".py"), lit(".zip"))
      val name = concat(lit("f"), $"doc_id".cast("string"),
        element_at(exts, ($"doc_id" % 8 + 1).cast("int")))
      t(s, dir, "documents")
        .select($"doc_id", name.as("name"))
        .filter(!K.krep_skip_name($"name"))
        .orderBy($"doc_id")
    }),
    "prune_dirs" -> ((s, dir) => { // directory-name pruning (S6)
      import s.implicits._
      val dirs = array(lit("src"), lit(".git"), lit("node_modules"),
        lit("docs"), lit(".cache"), lit("lib"), lit("build"), lit("assets"))
      t(s, dir, "documents")
        .select($"doc_id", element_at(dirs, ($"doc_id" % 8 + 1).cast("int")).as("dir"))
        .filter(!K.krep_skip_dir($"dir"))
        .orderBy($"doc_id")
    }),
    "gitignore_prune" -> ((s, dir) => { // gitignore semantics (S9)
      import s.implicits._
      val names = array(lit("error.log"), lit("keep.log"), lit("tmpcache"),
        lit("data1"), lit("main.scala"), lit("readme.md"))
      val name = element_at(names, ($"doc_id" % 6 + 1).cast("int"))
      t(s, dir, "documents").select($"doc_id", name.as("name"))
        .filter(!K.gitignore_ignored($"name",
          Seq("*.log", "!keep*.log", "tmp*", "data?")))
        .orderBy($"doc_id")
    }),
    "krep_exists" -> ((s, dir) => { // exit-status boolean aggregate (A4)
      import s.implicits._
      t(s, dir, "documents").agg(
        (count(when(K.krep_contains($"text", "spark"), 1)) > 0).as("found"),
        count(when(K.krep_contains($"text", "zzzznotaword"), 1)).as("misses"))
    }),
    "prune_antijoin" -> ((s, dir) => { // gitignore-style source pruning (S9)
      import s.implicits._
      val skip = Seq("src0", "src7", "src13").toDF("source")
      t(s, dir, "documents")
        .join(broadcast(skip), Seq("source"), "left_anti")
        .groupBy($"source").agg(count(lit(1)).as("kept"))
        .orderBy($"source")
    }),
    "ascii_lower_distinct" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "part").select(K.ascii_lower($"p_type").as("tp"))
        .distinct().orderBy($"tp")
    }),

    // ---- tokenizer / text analysis ---------------------------------------
    "tokenize_count" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          K.krep_token_count($"text").cast("long").as("n_tok"))
        .orderBy($"doc_id")
    }),
    "top_terms" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(explode(K.krep_term_freqs($"text")).as("e"))
        .select($"e.term".as("term"), $"e.tf".as("tf"))
        .groupBy($"term").agg(sum($"tf").cast("long").as("total"))
        .orderBy($"total".desc, $"term").limit(20)
    }),
    "lang_stopwords" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id",
        TextOps.stopwordCount($"text", enStop).as("en_sw"),
        TextOps.stopwordCount($"text", deStop).as("de_sw"))
        .orderBy($"doc_id")
    }),
    "quality_score" -> ((s, dir) => {
      import s.implicits._
      val feats = TextOps.qualityFeatures($"text", enStop)
      t(s, dir, "documents")
        .select($"doc_id" +: feats.map { case (n, c) => c.as(n) }: _*)
        .orderBy($"doc_id")
    }),
    "token_count_bpe" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id",
        K.krep_count($"text", KrepParams(Seq("[A-Za-z0-9]+|[^A-Za-z0-9 ]"),
          regex = true, overlapping = false)).as("n_bpe"))
        .orderBy($"doc_id")
    }),
    "fingerprint" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", TextOps.fingerprint($"text").as("fp"))
        .orderBy($"doc_id")
    }),

    // ---- deduplication ----------------------------------------------------
    "dedup_exact_text" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").agg(
        countDistinct($"text").as("distinct_texts"),
        count(lit(1)).as("total"))
    }),
    "dedup_exact_key" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").groupBy($"lang", $"source")
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
        .orderBy($"lang", $"source")
    }),
    "ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      // Scalable pair generation: MinHash-banded LSH candidates (bare-id
      // band equi-join, no all-pairs), then EXACT n-gram Jaccard rescoring
      // of the deduped survivors — the shingle sets join back only for the
      // candidate pairs, never through the band-join exchange.
      val docs = t(s, dir, "documents")
      // one fused kernel pass text → sig (no HOF interpretation, no barrier
      // persists needed); persisted for reuse across the band join + rescore
      val d = docs.select($"doc_id",
        TextOps.minhashShingleSigPoly($"text", k = 32).as("sig"))
        .persist()
      val sh = docs
        .select($"doc_id", TextOps.shinglesKernel($"text", 3).as("sh")).persist()
      minhashBandPairs(d, bands = 8, rows = 4)
        .join(sh.select($"doc_id".as("id_a"), $"sh".as("sa")), "id_a")
        .join(sh.select($"doc_id".as("id_b"), $"sh".as("sb")), "id_b")
        .select($"id_a", $"id_b",
          TextOps.jaccardBps($"sa", $"sb").as("j_bps"))
        .orderBy($"id_a", $"id_b")
    }),
    "minhash_pairs" -> ((s, dir) => { // PolyHash variant — full DuckDB oracle
      import s.implicits._
      val bands = 8
      val rows = 4
      // fused kernel: text → sig in ONE codegen'd pass (the HOF chain this
      // replaces was interpreted CodegenFallback and needed persist barriers
      // against CollapseProject re-inlining — measured 32x recompute); the
      // remaining persist is plain reuse across band join + estimate joins
      val d = t(s, dir, "documents")
        .select($"doc_id",
          TextOps.minhashShingleSigPoly($"text", k = bands * rows).as("sig"))
        .persist()
      // candidate pairs move bare ids through the band join; the 32-slot
      // signature arrays join back ONLY for the deduped survivors, so the
      // widest exchange carries (band, bhash, id) and nothing else
      minhashConfirmedPairs(d, bands, rows, thresholdBps = 7000L)
        .orderBy($"id_a", $"id_b")
    }),
    "dedup_clusters" -> ((s, dir) => {
      import s.implicits._
      // Near-dup clustering: confirmed MinHash pairs (est >= 0.7) become
      // edges; DedupCluster.connectedComponents labels every document with
      // the minimum doc_id reachable through the pair graph — the canonical
      // document a dedup pipeline keeps — in O(log n) pointer-doubling
      // rounds. csize counts the component (1 = unique document).
      val d = t(s, dir, "documents")
        .select($"doc_id",
          TextOps.minhashShingleSigPoly($"text", k = 32).as("sig"))
        .persist() // reuse across band join + estimate joins (see minhash_pairs)
      val edges = minhashConfirmedPairs(d, bands = 8, rows = 4,
        thresholdBps = 7000L).select($"id_a", $"id_b")
      val cc = DedupCluster.connectedComponents(
        t(s, dir, "documents").select($"doc_id".as("id")), edges)
      val sizes = cc.groupBy($"cluster_id").agg(count(lit(1)).as("csize"))
      cc.join(sizes, "cluster_id")
        .select($"id".as("doc_id"), $"cluster_id", $"csize")
        .orderBy($"doc_id")
    }),
    // canonical simhash: the PolyHash scheme, fully value-oracled in DuckDB
    // (no cross-engine oracle can reproduce an xxhash64 SimHash, so that
    // variant lives only as an sbt-side test oracle)
    "simhash" -> ((s, dir) => {
      import s.implicits._
      // fused kernel: text → simhash in one codegen'd pass (no 31x HOF
      // interpretation, no persist barrier — identical values, OpsSpec pins)
      t(s, dir, "documents")
        .select($"doc_id", graft.ops.kernels.simhash31($"text").as("sh"))
        .orderBy($"doc_id")
    }),

    // ---- similarity search ------------------------------------------------
    "ann_cosine_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter($"vec_id" === 0).head()
        .getAs[scala.collection.Seq[Float]]("embedding").toArray
      val top = AnnOps.bruteForceTopK(emb, "vec_id", "embedding", qv, 10)
        .collect()
      s.createDataFrame(top.toSeq.zipWithIndex.map { case (r, i) =>
        (i + 1, r.getLong(0))
      }).toDF("rnk", "vec_id")
    }),
    "ann_ivf_topk" -> ((s, dir) => {
      import s.implicits._
      // IVF scale path: probe 4 of 16 deterministic coarse cells, exact
      // cosine inside the probed cells only (~4/16 of the corpus scanned;
      // over a cell-partitioned table the probe is partition pruning).
      // This row gates the MECHANISM (cell assignment, probe selection,
      // in-cell rescoring agree with the oracle bit-exactly); the recall
      // property needs clustered data and is gated in AnnRecallSpec —
      // the sf tables' embeddings are uniform random, where any
      // partition-pruning ANN has low recall by construction
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter($"vec_id" === 0).head()
        .getAs[scala.collection.Seq[Float]]("embedding").toArray
      val top = AnnOps.ivfTopK(emb, "vec_id", "embedding", qv, 10,
        nCells = 16, nProbe = 4, seed = 7L).collect()
      s.createDataFrame(top.toSeq.zipWithIndex.map { case (r, i) =>
        (i + 1, r.getLong(0))
      }).toDF("rnk", "vec_id")
    }),
    "ann_ivf_trained_topk" -> ((s, dir) => {
      import s.implicits._
      // Trained-IVF: spherical-k-means centroids (pure driver-side Lloyd
      // over the deterministic clustered sample — AnnOps.lloydSpherical,
      // the exact arithmetic trainIvfCentroids applies after sampling a
      // table) drive cell assignment, probe selection and in-cell
      // rescoring through the same codegen'd kernel as ann_ivf_topk. The
      // oracle runs the SAME pure training at SQL-generation time and
      // embeds the trained matrix as literals (the ivfDotsSql trick), so
      // this row gates training determinism AND the distributed
      // application of a trained matrix bit-exactly; recall quality is
      // gated in AnnRecallSpec.
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter($"vec_id" === 0).head()
        .getAs[scala.collection.Seq[Float]]("embedding").toArray
      val cents = AnnOps.lloydSpherical(trainedIvfSample(), nCells = 16,
        dim = 64)
      val top = AnnOps.ivfTopKWith(emb, "vec_id", "embedding", qv, 10,
        cents, nProbe = 4).collect()
      s.createDataFrame(top.toSeq.zipWithIndex.map { case (r, i) =>
        (i + 1, r.getLong(0))
      }).toDF("rnk", "vec_id")
    }),
    "ann_lsh_neardup" -> ((s, dir) => {
      import s.implicits._
      // planes are deterministic (SplitMix64 from the seed), so the DuckDB
      // oracle embeds the same +-1 matrix as literals and reproduces buckets,
      // pairs and rescored sims exactly (double arithmetic, same fold order)
      AnnOps.lshCandidatePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        nPlanes = 10, nTables = 2, dim = 64)
        .select($"id_a", $"id_b", round($"sim" * 10000).cast("long").as("sim_bps"))
        .orderBy($"id_a", $"id_b")
    }),
    "ann_dedup_clusters" -> ((s, dir) => {
      import s.implicits._
      // Semantic dedup clustering: SRP-LSH candidate pairs above a cosine
      // threshold become edges; connected components pick one canonical
      // vector per cluster. Threshold 0.30 is the demo value for the
      // near-orthogonal synthetic fixture (max pairwise cos ~0.43); a real
      // embedding-dedup pipeline sets ~0.95 — the mechanism is identical.
      val emb = t(s, dir, "embeddings")
      val edges = AnnOps.lshCandidatePairs(emb, "vec_id", "embedding",
        nPlanes = 10, nTables = 2, minSim = 0.30, dim = 64)
        .select($"id_a", $"id_b")
      val cc = DedupCluster.connectedComponents(
        emb.select($"vec_id".as("id")), edges)
      val sizes = cc.groupBy($"cluster_id").agg(count(lit(1)).as("csize"))
      cc.join(sizes, "cluster_id")
        .select($"id".as("vec_id"), $"cluster_id", $"csize")
        .orderBy($"vec_id")
    }),

    // ---- BM25 ---------------------------------------------------------------
    "bm25_topk" -> ((s, dir) => {
      import s.implicits._
      Bm25Df.topK(t(s, dir, "documents"), "doc_id", "text",
        "spark window the", 15)
        .select($"rank".as("rnk"), $"id".as("doc_id"))
    }),

    // ---- index-path query modes (SURVEY.md §3.4) ---------------------------
    // each runs against a REAL inverted index built over the documents table:
    // positional phrase intersection + byte-exact recheck, dict-side pattern
    // expansion, WAND top-k — gated by the same DuckDB value oracle as the
    // scan-path BM25
    "phrase_topk" -> ((s, dir) =>
      indexTopK(s, dir)(_.searchPhrase("the table", 10))),
    "multi_pattern_topk" -> ((s, dir) =>
      indexTopK(s, dir)(_.searchMultiPattern(Seq("or", "am"), 15))),
    "conj_topk" -> ((s, dir) =>
      indexTopK(s, dir)(_.searchConjunctive("spark window the", 15))),
    "conj_not_topk" -> ((s, dir) =>
      indexTopK(s, dir)(
        _.searchConjunctive("spark window the", 15, exclude = "merge"))),
    "regex_topk" -> ((s, dir) =>
      indexTopK(s, dir)(_.searchRegex("^[a-z]{3}$", 15))),
    "krep_contains_indexed" -> ((s, dir) => {
      import s.implicits._
      // The automatic krep_contains → index rewrite (SURVEY.md §4): the SQL
      // user writes the filter, the optimizer serves it from the inverted
      // index as a recheck-retaining semi join. The plan assert makes this
      // row EVIDENCE: a silent fall-back to the full scan would still return
      // the right rows, so the row must fail loudly instead.
      val engine = indexEngine(s, dir)
      // floor=0: this row IS the plan-assert that the rewrite fires, so the
      // cost floor (which would correctly stand down at sandbox corpus sizes)
      // is disabled here deliberately
      graft.query.IndexFilterRewrite.register(s, engine.root, minCorpusDocs = 0)
      // 'dup' hits ~5% of docs — selective enough that the default hot-term
      // gate keeps the index path (an unselective pattern like 'merge', in
      // ~80% of docs, would correctly stand down to the scan filter)
      val filtered = engine.corpusDf.filter(K.krep_contains($"text", "dup"))
      val fired = filtered.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }.nonEmpty
      require(fired, "krep_contains_indexed: index filter rewrite did not fire")
      filtered.select(expr("substring(url, 4)").cast("long").as("doc_id"))
        .orderBy($"doc_id")
    }),

    // ---- index lifecycle (SURVEY.md §7: snapshots, appends, compaction) -----
    // compaction_topk: the corpus lands in TWO streaming appends and the
    // postings are then fully compacted; the oracle is the plain scan-path
    // BM25 — append batching and the compaction rewrite must be
    // answer-invisible (and a no-op compaction fails the row loudly)
    "compaction_topk" -> ((s, dir) =>
      topKOf(s, lifecycleEngines(s, dir)._1)(_.search("spark window the", 15))),
    // timetravel_topk: the engine is pinned to the FIRST append's snapshot
    // and reads it AFTER the second append and the compaction committed; the
    // oracle sees only the first-half corpus — including its stats (N,
    // avgdl, df), which a stats/postings snapshot mismatch would corrupt
    "timetravel_topk" -> ((s, dir) =>
      topKOf(s, lifecycleEngines(s, dir)._2)(_.search("spark window the", 10))),

    // ---- multimodal plumbing ----------------------------------------------
    "multimodal_features" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
      graft.ops.MultiModal.extractFeatures(media, "doc_id", "payload")
        .select($"id", $"n_bytes", $"format")
        .orderBy($"id")
    }),
    "multimodal_frames" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
      graft.ops.MultiModal.sampleFrames(media, "doc_id", "payload")
        .groupBy($"id").agg(count(lit(1)).as("n_frames"))
        .orderBy($"id")
    }),
    "multimodal_meta" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", encode($"text", "UTF-8").as("blob"), $"text")
        .select($"doc_id",
          octet_length($"blob").cast("long").as("n_bytes"),
          (ascii(substring($"text", 1, 1)) >= 128).cast("long").as("bit0"))
        .orderBy($"doc_id")
    })
  )

  val oracleSql: Map[String, String] = {
    val toks = "regexp_extract_all(text,'[A-Za-z0-9_]+')"
    val ltoks = "regexp_extract_all(lower(text),'[a-z0-9_]+')"
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ",", ")")
    val P = TextOps.HashP
    // PolyHash of a string expression: ascii codepoints == bytes (ASCII input)
    def ph(v: String) =
      s"list_reduce(list_transform(range(1, length($v)+1), " +
        s"q -> CAST(ascii(substr($v, q, 1)) AS BIGINT)), (x, y) -> (x*131 + y) % $P)"
    // token 3-gram shingles, duplicates kept (mirrors TextOps.shingles)
    val shingles =
      s"CASE WHEN len($ltoks) >= 3 THEN list_transform(range(1, len($ltoks)-1), " +
        s"i -> $ltoks[i] || ' ' || $ltoks[i+1] || ' ' || $ltoks[i+2]) ELSE [] END"
    val sigEntries = TextOps.minhashCoeffs(32).map { case (a, b) =>
      s"coalesce(list_min(list_transform(hs, h -> (h*$a + $b) % $P)), $P)"
    }.mkString("[", ", ", "]")
    // shared MinHash-banded pair CTEs (shingles -> signatures -> band join
    // -> distinct pairs with Jaccard estimate); `e` = (id_a, id_b, est_bps)
    val minhashPairCtes =
      s"""d AS (SELECT doc_id, $shingles AS sh FROM documents),
         |h AS (SELECT doc_id, list_transform(sh, s -> ${ph("s")}) AS hs FROM d),
         |sig AS (SELECT doc_id, $sigEntries AS sig FROM h),
         |banded AS (SELECT doc_id, sig, b AS band,
         |  list_reduce(list_transform(range(b*4+1, b*4+5), j -> sig[j]),
         |    (x, y) -> (x*131 + y) % $P) AS bhash
         |  FROM sig, unnest([0,1,2,3,4,5,6,7]) AS t(b)),
         |p AS (SELECT a.doc_id AS id_a, bb.doc_id AS id_b, a.sig AS sa, bb.sig AS sb
         |  FROM banded a JOIN banded bb
         |  ON a.band = bb.band AND a.bhash = bb.bhash AND a.doc_id < bb.doc_id),
         |e AS (SELECT DISTINCT id_a, id_b,
         |  (list_sum(list_transform(range(1, 33),
         |     i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) * 10000) // 32 AS est_bps
         |  FROM p)""".stripMargin
    // SRP-LSH oracle: the same ±1 hyperplanes the SrpBucket kernel derives
    // (nPlanes=10, dim=64, seeds 42+t), embedded as literals; bit j of the
    // bucket = sign of the double dot product, folded left-to-right exactly
    // like the kernel
    // BM25 top-k skeleton shared by the index-path query modes — the SAME
    // arithmetic as the bm25_topk oracle (k1=0.9, b=0.4, Lucene idf), with
    // the term set coming from `expSql` (mirroring dict-side expansion) and
    // an optional candidate restriction (mirroring the phrase recheck)
    def bm25IndexSql(expSql: String, extraCte: String, addendFilter: String,
        k: Int, corpus: String = "documents"): String =
      s"""WITH toksrc AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9_]+')) AS term FROM $corpus
         |), dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toksrc GROUP BY doc_id),
         |stats AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM dl),
         |dict AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM toksrc GROUP BY term),
         |exp AS ($expSql),
         |tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toksrc
         |       WHERE term IN (SELECT term FROM exp) GROUP BY doc_id, term),
         |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
         |$extraCte
         |addends AS (
         |  SELECT tf.doc_id,
         |    ln(1.0 + ((SELECT n FROM stats) - df.df + 0.5)/(df.df + 0.5)) *
         |    ((tf.tf * 1.9) / (tf.tf + 0.9*(0.6 + 0.4*dl.dl/(SELECT avgdl FROM stats)))) AS a
         |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id)$addendFilter),
         |scores AS (SELECT doc_id, sum(a) AS score FROM addends GROUP BY doc_id)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rnk, doc_id
         |FROM scores ORDER BY rnk LIMIT $k""".stripMargin
    def srpBucketSql(tableSeed: Long): String = {
      val planes = new graft.ops.SrpPlanes(10, 64, tableSeed).planes
      (0 until 10).map { j =>
        val lits = planes(j).map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
        s"(CASE WHEN list_reduce(list_transform(range(1, 65), " +
          s"i -> CAST(embedding[i] AS DOUBLE) * ($lits)[i]), " +
          s"(x, y) -> x + y) >= 0 THEN ${1 << (9 - j)} ELSE 0 END)"
      }.mkString(" + ")
    }
    // shared SRP-LSH pair CTEs (2 tables of 10-plane buckets -> distinct
    // candidate pairs -> exact double-precision cosine); `s` = (id_a, id_b,
    // sim) — same fold order as the codegen'd kernels, bit-exact
    val srpPairCtes =
      s"""b AS (
         |  SELECT vec_id, embedding, 0 AS tbl, ${srpBucketSql(42L)} AS bucket FROM embeddings
         |  UNION ALL
         |  SELECT vec_id, embedding, 1 AS tbl, ${srpBucketSql(43L)} AS bucket FROM embeddings),
         |p AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
         |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id),
         |e AS (SELECT id_a, id_b,
         |  list_reduce(list_transform(range(1, 65),
         |    i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
         |    (x, y) -> x + y) AS dot,
         |  sqrt(list_reduce(list_transform(range(1, 65),
         |    i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)),
         |    (x, y) -> x + y)) AS na,
         |  sqrt(list_reduce(list_transform(range(1, 65),
         |    i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
         |    (x, y) -> x + y)) AS nb
         |  FROM p JOIN embeddings ea ON ea.vec_id = p.id_a
         |         JOIN embeddings eb ON eb.vec_id = p.id_b),
         |s AS (SELECT id_a, id_b,
         |  CASE WHEN na > 0 AND nb > 0 THEN dot / (na * nb) ELSE 0.0 END AS sim FROM e)""".stripMargin
    // dots of `colRef` against the 16 deterministic ±1 IVF centroids (seed 7,
    // dim 64) as a SQL list literal expression — same double fold order as
    // IvfCentroids.cell, so argmax (first max wins) agrees bit-exactly
    def dotsSqlFor(cents: Array[Array[Double]], colRef: String): String =
      cents.map { c =>
        // Double.toString round-trips (shortest decimal that reparses to
        // the same double), so DuckDB's literal IS the trained value
        val lits = c.map(java.lang.Double.toString).mkString("[", ",", "]")
        s"list_reduce(list_transform(range(1, ${c.length + 1}), " +
          s"i -> CAST($colRef[i] AS DOUBLE) * ($lits)[i]), (x, y) -> x + y)"
      }.mkString("[", ", ", "]")
    def ivfDotsSql(colRef: String): String =
      dotsSqlFor(new graft.ops.IvfCentroids(16, 64, 7L).centroids, colRef)
    // identical pure Lloyd run as the Spark-side row — the literals below
    // ARE the trained centroids iff training is deterministic
    lazy val trainedCents = graft.ops.AnnOps
      .lloydSpherical(trainedIvfSample(), nCells = 16, dim = 64).centroids
    def trainedDotsSql(colRef: String): String = dotsSqlFor(trainedCents, colRef)
    Map(
      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          |CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
          |count(*) AS cnt FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      "join_revenue_segment" ->
        """SELECT c_mktsegment, count(*) AS n_orders,
          |CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "topk_per_group" ->
        """SELECT o_custkey, o_orderkey, rn FROM (
          |  SELECT o_custkey, o_orderkey,
          |         CAST(row_number() OVER (PARTITION BY o_custkey
          |              ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
          |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
      "window_hourly" ->
        """SELECT date_trunc('hour', ts) AS hour, count(*) AS cnt,
          |CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      "krep_contains" ->
        "SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%an%' ORDER BY p_partkey",
      // forced-kernel twin: same relation, so the driver gate proves the
      // override changes the PLAN (no Contains rewrite) but not the answer
      "krep_contains_ac" ->
        "SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%an%' ORDER BY p_partkey",
      "krep_contains_ci" ->
        "SELECT p_partkey, p_brand FROM part WHERE lower(p_brand) LIKE '%brand#1%' ORDER BY p_partkey",
      "krep_count_char" ->
        """SELECT p_partkey, CAST(length(p_name)-length(replace(p_name,'a','')) AS BIGINT) AS a_cnt
          |FROM part ORDER BY p_partkey""".stripMargin,
      "krep_whole_word" ->
        """SELECT doc_id FROM documents
          |WHERE regexp_matches(text, '(^|[^A-Za-z0-9_])the($|[^A-Za-z0-9_])')
          |ORDER BY doc_id""".stripMargin,
      "krep_count_lines" ->
        """SELECT doc_id, CAST(len(list_filter(string_split(replace(text,'table',chr(10)), chr(10)),
          |x -> contains(x,'value'))) AS BIGINT) AS n_lines FROM documents ORDER BY doc_id""".stripMargin,
      "krep_multi_ac" ->
        """SELECT doc_id, CAST((length(text)-length(replace(text,'spark','')))//5
          |+ (length(text)-length(replace(text,'merge','')))//5
          |+ (length(text)-length(replace(text,'window','')))//6 AS BIGINT) AS n_hits
          |FROM documents ORDER BY doc_id""".stripMargin,
      "krep_matching_lines" ->
        """WITH t AS (SELECT doc_id, string_split(replace(text,'table',chr(10)), chr(10)) AS lines FROM documents),
          |e AS (SELECT doc_id, unnest(list_filter(list_transform(lines,
          |      (l, i) -> {'ln': i, 'line': l}), s -> contains(s.line, 'value'))) AS u FROM t)
          |SELECT doc_id, CAST(u.ln AS INTEGER) AS ln, u.line AS line FROM e
          |ORDER BY doc_id, ln""".stripMargin,
      "krep_max_count" ->
        """SELECT p_partkey, CAST(least(length(p_name)-length(replace(p_name,'a','')), 2) AS BIGINT) AS a_capped
          |FROM part ORDER BY p_partkey""".stripMargin,
      "krep_regex_extract" ->
        """SELECT event_id, unnest(regexp_extract_all(props,'[0-9]+')) AS tok
          |FROM events ORDER BY event_id, tok""".stripMargin,
      "krep_positions" ->
        """SELECT p_partkey, CAST(u - 1 AS INTEGER) AS st, CAST(u + 1 AS INTEGER) AS en
          |FROM (SELECT p_partkey, unnest(list_filter(range(1, length(p_name)),
          |      i -> substr(p_name, i, 2) = 'an')) AS u FROM part)
          |ORDER BY p_partkey, st""".stripMargin,
      "krep_extract_ln" ->
        """WITH t AS (SELECT doc_id, string_split(replace(text,'table',chr(10)), chr(10)) AS lines FROM documents),
          |e AS (SELECT doc_id, unnest(list_filter(list_transform(lines,
          |      (l, i) -> {'ln': i, 'c': (length(l)-length(replace(l,'value','')))//5}),
          |      s -> s.c > 0)) AS u FROM t)
          |SELECT doc_id, CAST(u.ln AS INTEGER) AS ln, CAST(u.c AS BIGINT) AS cnt FROM e
          |ORDER BY doc_id, ln""".stripMargin,
      "binary_prune" ->
        """SELECT doc_id FROM documents
          |WHERE (doc_id * 37) % 2048 + 1 <= least(length(text), 1024)
          |ORDER BY doc_id""".stripMargin,
      "prune_extensions" ->
        """WITH n AS (SELECT doc_id, 'f' || doc_id ||
          |  (['.scala','.log','.md','.jpg','.txt','.min.js','.py','.zip'])[(doc_id % 8 + 1)] AS name
          |  FROM documents)
          |SELECT doc_id, name FROM n
          |WHERE NOT (contains(name, '.min.')
          |  OR list_contains(['log','jpg','zip'], lower(string_split(name, '.')[-1])))
          |ORDER BY doc_id""".stripMargin,
      "prune_dirs" ->
        """WITH n AS (SELECT doc_id,
          |  (['src','.git','node_modules','docs','.cache','lib','build','assets'])[(doc_id % 8 + 1)] AS dir
          |  FROM documents)
          |SELECT doc_id, dir FROM n
          |WHERE NOT (dir LIKE '.%' OR list_contains(['node_modules','build'], dir))
          |ORDER BY doc_id""".stripMargin,
      "topk_agg" ->
        """SELECT CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk,
          |CAST(o_orderkey AS BIGINT) AS o_orderkey
          |FROM orders ORDER BY rnk LIMIT 10""".stripMargin,
      "gitignore_prune" ->
        """WITH n AS (SELECT doc_id,
          |  (['error.log','keep.log','tmpcache','data1','main.scala','readme.md'])[(doc_id % 6 + 1)] AS name
          |  FROM documents)
          |SELECT doc_id, name FROM n
          |WHERE NOT ((name LIKE '%.log' AND NOT name LIKE 'keep%.log')
          |  OR name LIKE 'tmp%' OR name LIKE 'data_')
          |ORDER BY doc_id""".stripMargin,
      "krep_exists" ->
        """SELECT count(*) FILTER (WHERE text LIKE '%spark%') > 0 AS found,
          |count(*) FILTER (WHERE text LIKE '%zzzznotaword%') AS misses FROM documents""".stripMargin,
      "prune_antijoin" ->
        """SELECT source, count(*) AS kept FROM documents
          |WHERE source NOT IN ('src0','src7','src13')
          |GROUP BY source ORDER BY source""".stripMargin,
      "ascii_lower_distinct" ->
        "SELECT DISTINCT lower(p_type) AS tp FROM part ORDER BY tp",
      "tokenize_count" ->
        s"SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tok FROM documents ORDER BY doc_id",
      "top_terms" ->
        s"""SELECT term, CAST(count(*) AS BIGINT) AS total FROM
           |(SELECT unnest($ltoks) AS term FROM documents)
           |GROUP BY term ORDER BY total DESC, term LIMIT 20""".stripMargin,
      "lang_stopwords" ->
        s"""SELECT doc_id,
           |CAST(len(list_filter($ltoks, x -> x IN ${inList(enStop)})) AS BIGINT) AS en_sw,
           |CAST(len(list_filter($ltoks, x -> x IN ${inList(deStop)})) AS BIGINT) AS de_sw
           |FROM documents ORDER BY doc_id""".stripMargin,
      "quality_score" ->
        s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           |CAST(len($toks) AS BIGINT) AS n_tok,
           |CAST((10000 * len(list_filter($ltoks, x -> x IN ${inList(enStop)}))) // len($toks) AS BIGINT) AS stop_bps,
           |CAST((100 * list_sum(list_transform($toks, s -> length(s)))) // len($toks) AS BIGINT) AS tok_len_x100
           |FROM documents ORDER BY doc_id""".stripMargin,
      "token_count_bpe" ->
        """SELECT doc_id, CAST(len(regexp_extract_all(text,'[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe
          |FROM documents ORDER BY doc_id""".stripMargin,
      "fingerprint" ->
        s"""SELECT doc_id, CASE WHEN len($ltoks) = 0 THEN 0 ELSE
           |list_reduce(list_transform($ltoks, t -> CAST(length(t)*7 + ascii(t) AS BIGINT)),
           |(x, y) -> (x*131 + y) % 1000000007) END AS fp
           |FROM documents ORDER BY doc_id""".stripMargin,
      "dedup_exact_text" ->
        "SELECT CAST(count(DISTINCT text) AS BIGINT) AS distinct_texts, count(*) AS total FROM documents",
      "dedup_exact_key" ->
        """SELECT lang, source, CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS dup_cnt
          |FROM documents GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
      "ngram_jaccard" ->
        s"""WITH d AS (SELECT doc_id, $shingles AS sh FROM documents),
           |h AS (SELECT doc_id, list_transform(sh, s -> ${ph("s")}) AS hs FROM d),
           |sig AS (SELECT doc_id, $sigEntries AS sig FROM h),
           |banded AS (SELECT doc_id, b AS band,
           |  list_reduce(list_transform(range(b*4+1, b*4+5), j -> sig[j]),
           |    (x, y) -> (x*131 + y) % $P) AS bhash
           |  FROM sig, unnest([0,1,2,3,4,5,6,7]) AS t(b)),
           |p AS (SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b
           |  FROM banded a JOIN banded bb
           |  ON a.band = bb.band AND a.bhash = bb.bhash AND a.doc_id < bb.doc_id),
           |j AS (SELECT id_a, id_b, list_distinct(da.sh) AS sa, list_distinct(db.sh) AS sb
           |  FROM p JOIN d da ON da.doc_id = p.id_a JOIN d db ON db.doc_id = p.id_b)
           |SELECT id_a, id_b, CASE WHEN len(sa)+len(sb) = 0 THEN 0 ELSE
           |  CAST((10000 * len(list_filter(sa, x -> list_contains(sb, x))))
           |  // (len(sa) + len(sb) - len(list_filter(sa, x -> list_contains(sb, x)))) AS BIGINT)
           |END AS j_bps FROM j ORDER BY id_a, id_b""".stripMargin,
      "minhash_pairs" ->
        s"""WITH $minhashPairCtes
           |SELECT id_a, id_b, CAST(est_bps AS BIGINT) AS est_bps FROM e
           |WHERE est_bps >= 7000 ORDER BY id_a, id_b""".stripMargin,
      // near-dup clustering: confirmed pairs -> symmetric edges -> full
      // reachability closure (recursive CTE) -> min reachable id per doc
      // == the engine's pointer-doubling connected components
      "dedup_clusters" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |edges AS (SELECT id_a AS u, id_b AS v FROM e WHERE est_bps >= 7000
           |  UNION ALL SELECT id_b, id_a FROM e WHERE est_bps >= 7000),
           |reach(a, rb) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.a, ed.v FROM reach r JOIN edges ed ON r.rb = ed.u),
           |cc AS (SELECT a AS doc_id, min(rb) AS cluster_id FROM reach GROUP BY a),
           |cs AS (SELECT cluster_id, count(*) AS csize FROM cc GROUP BY cluster_id)
           |SELECT cc.doc_id, cc.cluster_id, cs.csize FROM cc
           |JOIN cs USING (cluster_id) ORDER BY cc.doc_id""".stripMargin,
      "simhash" ->
        s"""WITH tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, unnest($ltoks) AS term FROM documents)
           |  GROUP BY doc_id, term),
           |h AS (SELECT doc_id, ${ph("term")} AS h, tf FROM tf),
           |bits AS (SELECT doc_id, j,
           |  CASE WHEN sum(tf * (CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1
           |    THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END AS bit
           |  FROM h, unnest(range(0, 31)) AS t(j) GROUP BY doc_id, j),
           |agg AS (SELECT doc_id,
           |  CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(30 - j AS INTEGER))) AS BIGINT) AS sh
           |  FROM bits GROUP BY doc_id)
           |SELECT d.doc_id, CAST(coalesce(agg.sh, 0) AS BIGINT) AS sh
           |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
           |ORDER BY d.doc_id""".stripMargin,
      "ann_lsh_neardup" ->
        s"""WITH $srpPairCtes
           |SELECT id_a, id_b, CAST(round(sim * 10000) AS BIGINT) AS sim_bps FROM s
           |WHERE sim >= 0.0 ORDER BY id_a, id_b""".stripMargin,
      // semantic dedup clustering: SRP-LSH pairs above the similarity
      // threshold become edges; closure == the engine's pointer-doubling CC
      "ann_dedup_clusters" ->
        s"""WITH RECURSIVE $srpPairCtes,
           |edges AS (SELECT id_a AS u, id_b AS v FROM s WHERE sim >= 0.30
           |  UNION ALL SELECT id_b, id_a FROM s WHERE sim >= 0.30),
           |reach(a, rb) AS (
           |  SELECT vec_id, vec_id FROM embeddings
           |  UNION
           |  SELECT r.a, ed.v FROM reach r JOIN edges ed ON r.rb = ed.u),
           |cc AS (SELECT a AS vec_id, min(rb) AS cluster_id FROM reach GROUP BY a),
           |cs AS (SELECT cluster_id, count(*) AS csize FROM cc GROUP BY cluster_id)
           |SELECT cc.vec_id, cc.cluster_id, cs.csize FROM cc
           |JOIN cs USING (cluster_id) ORDER BY cc.vec_id""".stripMargin,
      "ann_ivf_topk" ->
        s"""WITH c AS (SELECT vec_id,
           |  (array_position(${ivfDotsSql("embedding")},
           |    list_aggregate(${ivfDotsSql("embedding")}, 'max')) - 1) AS cell
           |  FROM embeddings),
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |pd AS (SELECT unnest(range(1, 17)) AS ci,
           |  unnest(${ivfDotsSql("qe")}) AS d FROM q),
           |probe AS (SELECT ci - 1 AS cell FROM pd ORDER BY d DESC, ci LIMIT 4),
           |cand AS (SELECT e.vec_id, e.embedding FROM embeddings e
           |  JOIN c USING (vec_id) JOIN probe ON c.cell = probe.cell)
           |SELECT CAST(row_number() OVER (ORDER BY
           |  list_cosine_similarity(embedding, (SELECT qe FROM q)) DESC,
           |  vec_id) AS INTEGER) AS rnk, vec_id
           |FROM cand ORDER BY rnk LIMIT 10""".stripMargin,
      "ann_ivf_trained_topk" ->
        s"""WITH c AS (SELECT vec_id,
           |  (array_position(${trainedDotsSql("embedding")},
           |    list_aggregate(${trainedDotsSql("embedding")}, 'max')) - 1) AS cell
           |  FROM embeddings),
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |pd AS (SELECT unnest(range(1, 17)) AS ci,
           |  unnest(${trainedDotsSql("qe")}) AS d FROM q),
           |probe AS (SELECT ci - 1 AS cell FROM pd ORDER BY d DESC, ci LIMIT 4),
           |cand AS (SELECT e.vec_id, e.embedding FROM embeddings e
           |  JOIN c USING (vec_id) JOIN probe ON c.cell = probe.cell)
           |SELECT CAST(row_number() OVER (ORDER BY
           |  list_cosine_similarity(embedding, (SELECT qe FROM q)) DESC,
           |  vec_id) AS INTEGER) AS rnk, vec_id
           |FROM cand ORDER BY rnk LIMIT 10""".stripMargin,
      "ann_cosine_topk" ->
        """SELECT CAST(row_number() OVER (ORDER BY
          |  list_cosine_similarity(embedding, (SELECT embedding FROM embeddings WHERE vec_id=0)) DESC,
          |  vec_id) AS INTEGER) AS rnk, vec_id
          |FROM embeddings ORDER BY rnk LIMIT 10""".stripMargin,
      "bm25_topk" ->
        """WITH toksrc AS (
          |  SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9_]+')) AS term FROM documents
          |), dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toksrc GROUP BY doc_id),
          |stats AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM dl),
          |tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toksrc
          |       WHERE term IN ('spark','the','window') GROUP BY doc_id, term),
          |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
          |addends AS (
          |  SELECT tf.doc_id,
          |    ln(1.0 + ((SELECT n FROM stats) - df.df + 0.5)/(df.df + 0.5)) *
          |    ((tf.tf * 1.9) / (tf.tf + 0.9*(0.6 + 0.4*dl.dl/(SELECT avgdl FROM stats)))) AS a
          |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id)),
          |scores AS (SELECT doc_id, sum(a) AS score FROM addends GROUP BY doc_id)
          |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rnk, doc_id
          |FROM scores ORDER BY rnk LIMIT 15""".stripMargin,
      // phrase = positional token adjacency (lowercase krep tokens) AND the
      // byte-exact literal recheck (krep.c:1312 memcmp semantics), scored
      // over the phrase's distinct terms with corpus-global df/avgdl
      "phrase_topk" -> bm25IndexSql(
        "SELECT unnest(['table','the']) AS term",
        """cand AS (SELECT doc_id FROM
          |  (SELECT doc_id, text, regexp_extract_all(lower(text),'[a-z0-9_]+') AS tk FROM documents)
          |  WHERE contains(text, 'the table') AND len(tk) >= 2
          |    AND list_contains(list_transform(range(1, len(tk)),
          |          i -> tk[i] || ' ' || tk[i+1]), 'the table')),""".stripMargin,
        " WHERE tf.doc_id IN (SELECT doc_id FROM cand)", 10),
      // conjunctive mode: only docs carrying ALL query terms score; the
      // addends are the same global-df BM25 terms as the disjunctive path
      "conj_topk" -> bm25IndexSql(
        "SELECT unnest(['spark','the','window']) AS term",
        "cand AS (SELECT doc_id FROM tf GROUP BY doc_id HAVING count(*) = 3),",
        " WHERE tf.doc_id IN (SELECT doc_id FROM cand)", 15),
      // NOT mode: conjunctive candidates minus docs carrying the excluded
      // term anywhere (the exclusion check runs over toksrc, i.e. the full
      // token stream — same semantics as the index's exclusion cursors);
      // excluded terms contribute no addends
      "conj_not_topk" -> bm25IndexSql(
        "SELECT unnest(['spark','the','window']) AS term",
        """cand AS (SELECT doc_id FROM tf GROUP BY doc_id HAVING count(*) = 3
          |  AND doc_id NOT IN
          |    (SELECT DISTINCT doc_id FROM toksrc WHERE term = 'merge')),""".stripMargin,
        " WHERE tf.doc_id IN (SELECT doc_id FROM cand)", 15),
      // the rewrite is plan-side only: the oracle is the plain filter the
      // user wrote (the semi join may only prune, never change the answer)
      "krep_contains_indexed" ->
        "SELECT doc_id FROM documents WHERE contains(text, 'dup') ORDER BY doc_id",
      // lifecycle rows: two streaming appends + a full compaction sit behind
      // the Spark side; the oracles are plain scan-path BM25, so batching
      // and the compaction rewrite must be answer-invisible
      "compaction_topk" -> bm25IndexSql(
        "SELECT unnest(['spark','the','window']) AS term", "", "", 15),
      // time travel: the engine reads the FIRST append's snapshot after two
      // further commits; the oracle's whole corpus — tokens AND the N /
      // avgdl / df statistics — is the first half only (doc_id < max/2,
      // the same integer cut the Spark side computes)
      "timetravel_topk" -> bm25IndexSql(
        "SELECT unnest(['spark','the','window']) AS term", "", "", 10,
        "(SELECT * FROM documents WHERE doc_id < " +
          "(SELECT max(doc_id)//2 FROM documents)) AS documents"),
      // dict terms CONTAINING any pattern (krep substring semantics), capped
      // at 1024 by df DESC (krep.c:3571), ranked as a disjunction
      "multi_pattern_topk" -> bm25IndexSql(
        """SELECT term FROM dict WHERE contains(term,'or') OR contains(term,'am')
          |ORDER BY df DESC, term LIMIT 1024""".stripMargin,
        "", "", 15),
      // dict terms matching the regex (unanchored search — both engines),
      // same cap, same disjunctive ranking
      "regex_topk" -> bm25IndexSql(
        """SELECT term FROM dict WHERE regexp_matches(term,'^[a-z]{3}$')
          |ORDER BY df DESC, term LIMIT 1024""".stripMargin,
        "", "", 15),
      "multimodal_features" ->
        """SELECT doc_id AS id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |CASE WHEN left(text,1) = '<' THEN 'html' ELSE 'raw' END AS format
          |FROM documents ORDER BY id""".stripMargin,
      "multimodal_frames" ->
        """SELECT doc_id AS id, CAST(CASE WHEN octet_length(encode(text)) <= 16 THEN 0
          |ELSE (octet_length(encode(text)) - 17) // 64 + 1 END AS BIGINT) AS n_frames
          |FROM documents ORDER BY id""".stripMargin,
      "multimodal_meta" ->
        """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |CAST(CASE WHEN ascii(text) >= 128 THEN 1 ELSE 0 END AS BIGINT) AS bit0
          |FROM documents ORDER BY doc_id""".stripMargin
    )
  }
}
