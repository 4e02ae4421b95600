package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.corpus.SynthWebText
import graft.krep.{KrepMatcher, KrepParams, functions => K}

/** `batch`: one thread of control, no serving tier. Set-up prebuilds the
  * `EntryQueries` shared and lifecycle indexes; each pass then runs every
  * `EntryQueries` entry over the fixture tables (rows collected to the
  * driver) and the `krep_*` scan set over the seeded corpus table: one scan
  * per matcher mode, each counting a hot and a rare pattern. Every entry and
  * scan is one operation; a pass repeats while the run lasts.
  */
object Batch {
  val Docs = 3000

  /** One scan of the corpus table: a matcher mode with a hot and a rare
    * pattern, each a (label, krep aggregate, DuckDB aggregate) triple.
    */
  final case class Scan(mode: String, patterns: Seq[(String, Column, String)])

  def scans(seed: Long): Seq[Scan] = {
    val rng = new Rng(seed ^ 0x5ca9L)
    val hot = SynthWebText.term(rng.nextInt(10))
    val rare = SynthWebText.term(2000 + rng.nextInt(8000))
    val other = SynthWebText.term(20 + rng.nextInt(200))
    def n(p: KrepParams) = sum(when(K.krep_contains(col("text"), p), 1L).otherwise(0L))
    def both(mode: String)(f: String => (Column, String)) =
      Scan(mode, Seq("hot" -> hot, "rare" -> rare).map { case (w, t) => val (c, d) = f(t); (w, c, d) })
    Seq(
      both("literal")(t => (n(KrepParams(Seq(t))), s"count(*) FILTER (WHERE contains(text, '$t'))")),
      both("ci")(t => (n(KrepParams(Seq(t.capitalize), caseSensitive = false)),
        s"count(*) FILTER (WHERE contains(lower(text), '$t'))")),
      both("wholeword")(t => (n(KrepParams(Seq(t), wholeWord = true)),
        s"count(*) FILTER (WHERE regexp_matches(text, '(^|[^A-Za-z0-9_])$t([^A-Za-z0-9_]|$$)'))")),
      both("ac")(t => (n(KrepParams(Seq(t, other))),
        s"count(*) FILTER (WHERE contains(text, '$t') OR contains(text, '$other'))")),
      both("regex") { t =>
        val re = s"${t.take(4)}[a-z]*[0-9]"
        (n(KrepParams(Seq(re), regex = true)), s"count(*) FILTER (WHERE regexp_matches(text, '$re'))")
      },
      both("countlines")(t => (sum(K.krep_count_lines(col("text"), KrepParams(Seq(t)))),
        s"sum(len(list_filter(string_split(text, chr(10)), x -> contains(x, '$t'))))")))
  }

  private val IndexEntries = Set("krep_contains_indexed", "compaction_topk", "conj_not_topk",
    "conj_topk", "multi_pattern_topk", "phrase_topk", "regex_topk", "timetravel_topk")
  private val SqlEntries = Set("q1_agg", "join_revenue_segment", "topk_agg", "topk_per_group",
    "window_hourly")

  /** The `entry.<group>_s` sum an entry belongs to. */
  def group(entry: String): String =
    if (IndexEntries(entry)) "index"
    else if (SqlEntries(entry)) "sql"
    else if (entry.startsWith("krep_")) "krep"
    else if (entry.contains("prune")) "prune"
    else "ops"

  def run(spark: SparkSession, rep: Report, tracer: Tracer, seed: Long,
      seconds: Double, work: String, data: String): Unit = {
    import spark.implicits._
    // input, not timed: the seeded corpus as a parquet table
    val corpusPath = s"$work/batch-corpus"
    SynthWebText.pages(spark, Docs, seed, numPartitions = 4).select($"url", $"text")
      .write.parquet(corpusPath)
    val entryOut = s"$work/entry-results"
    val scanSet = scans(seed)

    // set-up: the shared and lifecycle EntryQueries indexes
    val s0 = System.nanoTime()
    tracer.span("ops.prebuild_shared")(graft.app.EntryQueries.prebuildSharedIndex(spark, data))
    tracer.span("ops.prebuild_lifecycle")(graft.app.EntryQueries.prebuildLifecycleIndex(spark, data))
    rep.e2e("setup_s") = (Report.secsSince(s0), "s")

    val ops = ArrayBuffer.empty[(String, Double)]
    val threw = scala.collection.mutable.LinkedHashSet.empty[String]
    def op[A](name: String)(body: => A): Option[A] = {
      rep.attempted.incrementAndGet()
      val t0 = System.nanoTime()
      try Some(tracer.span(name)(body))
      catch {
        case e: Exception =>
          rep.fail(s"$name: $e")
          threw += name
          None
      } finally ops += name -> Report.secsSince(t0)
    }
    val entries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val scanCounts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val entryRows = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    var pass = 0
    val (gcN0, gcMs0) = Jvm.gcTotals()
    val up0 = Jvm.uptimeMillis
    val w0 = System.nanoTime()
    tracer.window {
      while (pass == 0 || Report.secsSince(w0) < seconds) {
        pass += 1
        entries.foreach { case (name, fn) =>
          op(s"ops.entry.$name") {
            val df = fn(spark, data)
            (df.collect(), df.schema)
          }.foreach(entryRows(name) = _)
        }
        val corpus = spark.read.parquet(corpusPath).select($"text")
        scanSet.foreach { s =>
          op(s"krep.scan.${s.mode}")(corpus.agg(s.patterns.head._2, s.patterns.tail.map(_._2): _*).head())
            .foreach(r => s.patterns.indices.foreach(i =>
              scanCounts(s"${s.mode}.${s.patterns(i)._1}") = r.getLong(i)))
        }
      }
    }
    val wall = Report.secsSince(w0)
    val (gcN1, gcMs1) = Jvm.gcTotals()
    rep.layer("jvm.gc_count") = ((gcN1 - gcN0).toDouble, "count")
    rep.layer("jvm.gc_pause_ms") = ((gcMs1 - gcMs0).toDouble, "ms")
    rep.layer("jvm.gc_max_pause_ms") = (Jvm.maxPauseMillis(up0).toDouble, "ms")
    System.gc() // the live set with the entry indexes and results held
    def secsOf(name: String): Seq[Double] = ops.filter(_._1 == name).map(_._2).toSeq

    rep.e2e("ops_s") = (ops.size / wall, "1/s")
    rep.e2e("op_p50_ms") = (Report.pct(ops.map(_._2 * 1000).toSeq, 0.5), "ms")
    rep.e2e("op_p99_ms") = (Report.pct(ops.map(_._2 * 1000).toSeq, 0.99), "ms")
    rep.ctx("batch_passes", pass)
    rep.ctx("batch_ops", ops.size)
    rep.ctx("batch_wall_s", wall)

    val entrySecs = entries.map { case (name, _) => name -> Report.median(secsOf(s"ops.entry.$name")) }
    entrySecs.foreach { case (name, s) => rep.layer(s"entry.${name}_s") = (s, "s") }
    entrySecs.groupBy(e => group(e._1)).foreach { case (g, es) =>
      rep.layer(s"entry.${g}_s") = (es.map(_._2).sum, "s")
    }
    rep.layer("entry.pass_s") = (entrySecs.map(_._2).sum, "s")
    val textBytes = spark.read.parquet(corpusPath).agg(sum(octet_length($"text"))).head().getLong(0)
    val scanS = scanSet.map(s => s.mode -> secsOf(s"krep.scan.${s.mode}").sum / pass)
    scanS.foreach { case (m, s) => rep.layer(s"krep.scan_${m}_s") = (s, "s") }
    rep.layer("krep.scan_mb_s") = (textBytes * scanSet.size / 1048576.0 / scanS.map(_._2).sum, "MB/s")
    rep.ctx("batch_text_mb", textBytes / 1048576.0)

    // results for the DuckDB checks made by perfbench/run.py, one parquet
    // directory per entry as graft.Verify writes them
    val w0c = System.nanoTime()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(entryOut))
    val writers = java.util.concurrent.Executors.newFixedThreadPool(Main.Cpus)
    try entryRows.toSeq.map { case (name, (rows, schema)) =>
      writers.submit(new Runnable {
        def run(): Unit =
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(s"$entryOut/$name")
      })
    }.foreach(_.get())
    finally writers.shutdown()
    OracleSql.write(s"$entryOut/oracle_sql.json")
    rep.ctx("phase_write_results_s", Report.secsSince(w0c))
    rep.checks("entry_results") = entryOut
    rep.checks("failed_ops") = threw.mkString(";")
    rep.checks("scan_table") = corpusPath
    rep.checks("scan_counts") = scanCounts.map { case (k, v) => s"$k=$v" }.mkString(";")
    rep.checks("scan_sql") = scanSet.flatMap(s => s.patterns.map { case (w, _, d) => s"${s.mode}.$w=$d" })
      .mkString(";")

    if (tracer.enabled) {
      val sample = spark.read.parquet(corpusPath).select($"text").as[String].take(1000)
        .map(UTF8String.fromString)
      val (hot, rare) = (SynthWebText.term(0), SynthWebText.term(5000))
      def mbs(p: KrepParams)(f: (KrepMatcher, UTF8String) => Long) = {
        val m = new KrepMatcher(p)
        Layers.kernelMbS(sample)(t => f(m, t))
      }
      val contains: (KrepMatcher, UTF8String) => Long = (m, t) => if (m.contains(t)) 1L else 0L
      rep.layer("krep.literal_mb_s") = (mbs(KrepParams(Seq(rare)))(contains), "MB/s")
      rep.layer("krep.ci_mb_s") = (mbs(KrepParams(Seq(rare.capitalize), caseSensitive = false))(contains), "MB/s")
      rep.layer("krep.wholeword_mb_s") = (mbs(KrepParams(Seq(rare), wholeWord = true))(contains), "MB/s")
      rep.layer("krep.ac_mb_s") = (mbs(KrepParams(Seq(rare, hot)))((m, t) => m.count(t)), "MB/s")
      rep.layer("krep.regex_mb_s") =
        (mbs(KrepParams(Seq(s"${rare.take(4)}[a-z]*[0-9]"), regex = true))(contains), "MB/s")
      rep.layer("krep.countlines_mb_s") = (mbs(KrepParams(Seq(hot)))((m, t) => m.countLines(t)), "MB/s")
    }
  }
}
