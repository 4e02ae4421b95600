package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet

import graft.corpus.SynthWebText
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.{QueryEngine, ScoredDoc}

/** Driver-run benchmark: times every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * plus the engine's headline metrics — index-build docs/sec and BM25 query
  * latency/throughput on the deterministic synthetic corpus. Prints ONE JSON
  * line (driver contract).
  */
object Bench {

  def referenceQueries: Seq[String] = {
    def t(r: Int) = SynthWebText.term(r)
    Seq(t(0), t(1), t(5), t(20), t(100), t(500), t(2000), t(10000), t(25000), t(49999)) ++
      Seq(s"${t(0)} ${t(1)}", s"${t(0)} ${t(100)}", s"${t(3)} ${t(7)} ${t(11)}",
        s"${t(2)} ${t(2000)}", s"${t(50)} ${t(51)} ${t(52)} ${t(53)}",
        s"${t(10)} ${t(10)}", s"${t(1)} ${t(49999)}", s"${t(4)} ${t(9)} ${t(400)}",
        s"${t(6)} ${t(8)} ${t(12)} ${t(30)}", s"${t(15)} ${t(1500)}") ++
      SynthWebText.Markers
  }

  /** Phrase-path benchmarks: planted markers (guaranteed hits) plus hot/cold
    * adjacent-term pairs — exercises the positional intersection + literal
    * recheck.
    */
  def referencePhrases: Seq[String] = {
    def t(r: Int) = SynthWebText.term(r)
    SynthWebText.Markers ++
      Seq(s"${t(0)} ${t(1)}", s"${t(2)} ${t(5)}", s"${t(1)} ${t(3)}")
  }

  /** Bench working dirs live on tmpfs when available: the scaling protocol
    * measures CPU parallelism, and the sandbox's virtual disk adds hundreds
    * of seconds of run-to-run IO noise that has nothing to do with cores.
    */
  def benchTmpDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm))
      Files.createTempDirectory(shm, prefix).toString
    else Files.createTempDirectory(prefix).toString
  }

  /** tmpfs is finite RAM: every bench working dir is deleted when its run
    * ends, or repeated runs would exhaust /dev/shm and distort later
    * measurements.
    */
  def deleteRec(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().foreach(c => deleteRec(c.getPath))
    f.delete()
  }

  /** Materialize the deterministic corpus as a parquet table (the "existing
    * Iceberg input" of a real pipeline) — NOT counted as indexing time.
    */
  def materializeCorpus(spark: SparkSession, nDocs: Long,
      partitions: Int): String = {
    val path = s"${benchTmpDir("graft-pages-")}/pages.parquet"
    SynthWebText.pages(spark, nDocs, numPartitions = partitions)
      .write.mode("overwrite").parquet(path)
    path
  }

  final case class EngineBenchResult(metrics: Map[String, Double],
      resultsChecksum: String)

  /** Cumulative steal ticks from /proc/stat's aggregate cpu line (col 8:
    * cpu user nice system idle iowait irq softirq STEAL ...). A delta over
    * the run, divided by wall seconds, says how many cores the hypervisor
    * took from this box WHILE the bench ran — round 3 measured ±2x swings
    * on unchanged code that were exactly this (≈164 ticks/s ≈ 1.6 cores).
    * Returns -1 when unreadable (non-Linux).
    */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } finally src.close()
    } catch { case _: Throwable => -1L }

  /** One coarse memory-bandwidth sample (GB/s over a 256 MB long-array
    * copy): the 8-core build legs are DRAM-bound, so a sample far below the
    * quiet-window ~20 GB/s marks a contended neighbor. Two samples around a
    * run expose swing.
    */
  def membwGbps(): Double = {
    val n = 32 * 1024 * 1024 // 256 MB of longs
    val a = new Array[Long](n)
    val b = new Array[Long](n)
    java.util.Arrays.fill(a, 0x9E3779B97F4A7C15L)
    var best = 0.0
    var i = 0
    while (i < 2) { // best of 2 back-to-back copies (first touches pages)
      val t0 = System.nanoTime()
      System.arraycopy(a, 0, b, 0, n)
      val gbps = (2.0 * 8 * n) / (System.nanoTime() - t0) // read+write bytes/ns
      if (gbps > best) best = gbps
      i += 1
    }
    best
  }

  /** Build + query-batch at the session's parallelism; returns metrics plus
    * a checksum over every query's (docId, scoreBits) results — equal
    * checksums at different parallelism levels prove parallelism invariance
    * (the reference's thread-count invariance test, test_krep.c:1071-1106,
    * lifted to the engine).
    */
  def engineBench(spark: SparkSession, nDocs: Long, partitions: Int,
      repeats: Int = 2, pagesPath: String = null): EngineBenchResult = {
    import spark.implicits._
    val root = benchTmpDir("graft-bench-")
    val ownPages = pagesPath == null
    val path = Option(pagesPath)
      .getOrElse(materializeCorpus(spark, nDocs, partitions))
    try engineBenchAt(spark, root, path, nDocs, partitions, repeats)
    finally {
      deleteRec(root)
      if (ownPages) deleteRec(new java.io.File(path).getParent)
    }
  }

  private def engineBenchAt(spark: SparkSession, root: String, path: String,
      nDocs: Long, partitions: Int, repeats: Int): EngineBenchResult = {
    import spark.implicits._
    val pages = GraftParquet.read(spark, path).as[graft.corpus.Page]
    val t0 = System.nanoTime()
    new IndexBuilder(spark, root, IndexConfig(partitions = partitions))
      .build(pages)
    val buildSec = (System.nanoTime() - t0) / 1e9

    val engine = new QueryEngine(spark, root)
    // untimed full warmup pass: plans, classloading, dict + block caches,
    // JIT on the WAND loops — the timed window then measures steady state
    referenceQueries.foreach(engine.search(_, 10))

    // throughput under concurrency — a search tier serves parallel queries;
    // per-query latencies still give p50/p95
    // pool == advertised parallelism: a search tier at 4N cores serves 4N
    // concurrent queries. JMH-style measurement: GC before timing (the build
    // phase leaves old-gen garbage whose collection would land randomly
    // inside one window), then THREE identical windows in the warmed JVM,
    // throughput = the best window (steady state; the others absorb
    // stop-the-world and VM-neighbor stalls), latencies pooled across all.
    val poolSize = math.max(2, partitions)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
    val lats = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val firstRun = new java.util.concurrent.ConcurrentHashMap[String, Array[ScoredDoc]]
    System.gc()
    val windowSecs = (1 to 3).map { w =>
      val q0 = System.nanoTime()
      val futures = for (rep <- 1 to repeats; q <- referenceQueries) yield {
        pool.submit(new Runnable {
          def run(): Unit = {
            val s = System.nanoTime()
            val res = engine.search(q, 10)
            lats.add((System.nanoTime() - s) / 1e3) // micros
            if (w == 1 && rep == 1) firstRun.put(q, res)
          }
        })
      }
      futures.foreach(_.get())
      (System.nanoTime() - q0) / 1e9
    }
    pool.shutdown()
    val qTotalSec = windowSecs.min

    // phrase path: positional intersection + literal recheck (one warm pass,
    // then timed); results join the invariance checksum. Same GC discipline
    // as the query windows: collect the window garbage first, then
    // best-of-3 per phrase — a single-shot timing right after the
    // concurrent windows used to eat a multi-second stop-the-world pause as
    // a phantom p95 (observed: 6 s "p95" for a phrase whose steady state is
    // 0.3 s)
    referencePhrases.foreach(engine.searchPhrase(_, 10))
    System.gc()
    val phraseRuns = referencePhrases.map { q =>
      (1 to 3).map { rep =>
        val s0 = System.nanoTime()
        val res = engine.searchPhrase(q, 10)
        if (rep == 1) firstRun.put("phrase:" + q, res)
        (System.nanoTime() - s0) / 1e6 // ms
      }
    }
    // headline phrase numbers are POOLED over every repeat (the conservative
    // reading — same discipline as the query windows); the best-of-3 twins
    // stay as explicitly-labeled steady-state numbers
    val phrasePooled = phraseRuns.flatten.sorted
    val phraseBest = phraseRuns.map(_.min).sorted

    // deterministic checksum over the first run's results, in query order
    var checksum = 1469598103934665603L // FNV offset
    (referenceQueries ++ referencePhrases.map("phrase:" + _)).foreach { q =>
      firstRun.get(q).foreach { sd =>
        checksum = (checksum ^ sd.docId) * 1099511628211L
        checksum = (checksum ^ java.lang.Double.doubleToLongBits(sd.score)) *
          1099511628211L
      }
    }
    val sorted = lats.toArray(Array.empty[java.lang.Double])
      .map(_.doubleValue).sorted
    def pct(p: Double) = sorted((p * (sorted.length - 1)).toInt) / 1000.0 // ms
    EngineBenchResult(Map(
      "index_build_sec" -> buildSec,
      "docs_per_sec" -> nDocs / buildSec,
      "queries_per_sec" -> (repeats * referenceQueries.length) / qTotalSec,
      "query_p50_ms" -> pct(0.50),
      "query_p95_ms" -> pct(0.95),
      "phrase_p50_ms" -> phrasePooled(phrasePooled.length / 2),
      "phrase_p95_ms" -> phrasePooled((0.95 * (phrasePooled.length - 1)).toInt),
      "phrase_best3_p50_ms" -> phraseBest(phraseBest.length / 2),
      "phrase_best3_p95_ms" -> phraseBest.last),
      java.lang.Long.toHexString(checksum))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val steal0 = stealTicks()
    val wall0 = System.nanoTime()
    val membw0 = membwGbps()

    // one tiny untimed action first: Catalyst/codegen/parquet-reader
    // classloading is a one-time JVM cost that otherwise lands entirely on
    // the alphabetically-first query (observed: ann_cosine_topk "4.8 s" for
    // a 2000-row scan, ~5 s of which was warmup)
    GraftParquet.read(spark, s"$sfDir/region.parquet").count()

    // the shared EntryQueries index is a one-time cost every index-mode
    // query amortizes; built HERE so it is its own metric below instead of
    // inflating whichever index query runs first alphabetically
    val sharedIdxSec = graft.app.EntryQueries.prebuildSharedIndex(spark, sfDir)
    // same treatment for the lifecycle (append+append+compact) index behind
    // compaction_topk / timetravel_topk
    val lifecycleIdxSec = graft.app.EntryQueries.prebuildLifecycleIndex(spark, sfDir)

    // a broken query must surface as an error, never as a fast "-1s" timing
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.next().take(160)
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val engine = engineBench(spark,
      sys.env.getOrElse("GRAFT_BENCH_DOCS", "50000").toLong, cpus.toInt).metrics +
      ("shared_index_build_sec" -> sharedIdxSec) +
      ("lifecycle_index_build_sec" -> lifecycleIdxSec)

    def jstr(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val eng = engine.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    // measurement context: the engine numbers are only interpretable knowing
    // whether working dirs sat on tmpfs, how many cores the JVM saw, and that
    // this main is NOT taskset-pinned — BENCH.md's scaling protocol (pinned
    // cores, paired runs) is the authoritative throughput measurement; these
    // are per-round trend numbers
    val shm = new java.io.File("/dev/shm").isDirectory
    // host weather over the whole run: steal-ticks/sec (cores the hypervisor
    // took while we ran; quiet ≈ <10, round-3's noisy window hit 164) and a
    // memory-bandwidth sample before/after (quiet ≈ stable ~20 GB/s) — so a
    // ±2x swing vs the previous round is distinguishable from a regression
    // without leaving this JSON
    val steal1 = stealTicks()
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val membw1 = membwGbps()
    val stealRate =
      if (steal0 < 0 || steal1 < 0) -1.0 else (steal1 - steal0) / wallSec
    val env = s"""{"cpus":$cpus,"jvm_cores":${Runtime.getRuntime.availableProcessors()},""" +
      s""""tmpfs":$shm,"pinned":false,""" +
      f""""steal_ticks_per_sec":$stealRate%.1f,""" +
      f""""membw_gbps_pre":$membw0%.1f,"membw_gbps_post":$membw1%.1f,""" +
      s""""bench_docs":${sys.env.getOrElse("GRAFT_BENCH_DOCS", "50000")}}"""
    val total = results.map(_._2).sum + engine("index_build_sec") +
      sharedIdxSec + lifecycleIdxSec
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"engine":$eng,"errors":$errs,"env":$env,"sf":"$sfDir"}""")
    spark.stop()
  }
}
