package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, substring_index}
import org.apache.spark.unsafe.types.UTF8String

import graft.corpus.Page
import graft.index.{BlockCodec, IceTable, IndexBuilder, IndexConfig, PosPostingBlock}
import graft.krep.KrepTokenize

/** Shared set-up and single-layer probes used by the workloads. */
object Layers {

  /** Every index in the benchmark: `IndexConfig` defaults except
    * 512 docs per segment, so the corpora span several segments and the
    * per-segment top-k merge and parallel phrase intersection stay present.
    */
  val Cfg: IndexConfig = IndexConfig(partitions = 4, docsPerSegment = 512)

  val Steps: Seq[String] = Seq("corpus", "docs", "stats", "tfrows", "dict", "postings")

  /** The generator's document number, parsed from the page url. */
  val docSeq: Column = substring_index(col("url"), "/", -1).cast("long")

  /** Bytes of the parquet files under `dir`; an index root's `data`
    * directory holds exactly its committed tables after a build or vacuum.
    */
  def parquetBytes(dir: String): Long = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try files.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Files.size(p)).sum
    finally files.close()
  }

  /** Seconds each build step committed in its `elapsedSec` metric. */
  def stepSeconds(spark: SparkSession, root: String): Map[String, Double] = {
    val steps = new IceTable(root, spark.sparkContext.hadoopConfiguration).completedSteps
    Steps.map(s => s -> steps.get(s).flatMap(_.metrics.get("elapsedSec")).fold(0.0)(_.toDouble)).toMap
  }

  /** Spark work of the given spans: jobs, shuffle write MB, spill MB and
    * the largest max/median task-time ratio over stages of 2+ tasks.
    */
  def sparkWork(tracer: Tracer, spans: Seq[Span]): (Long, Double, Double, Double) = {
    val cs = spans.flatMap(s => Option(tracer.counts.get(s.id)))
    val skews = cs.flatMap(_.stageTaskMs.values().asScala.map(_.asScala.toSeq.map(_.toDouble)))
      .filter(_.size >= 2).map(ts => ts.max / math.max(1.0, Report.median(ts)))
    (cs.map(_.jobs.get).sum,
      cs.map(_.shuffleWriteBytes.get).sum / 1048576.0,
      cs.map(_.spillBytes.get).sum / 1048576.0,
      if (skews.isEmpty) 0.0 else skews.max)
  }

  /** Decode throughput of `BlockCodec` over stored blocks, in encoded MB
    * per second on one thread (best of three passes).
    */
  def decodeMbS(blocks: Array[PosPostingBlock]): Double = {
    val bytes = blocks.map(b => b.docs.length + b.tfs.length + b.dls.length + b.poss.length).sum
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var sink = 0L
      blocks.foreach { b =>
        sink += BlockCodec.decodeDeltaLongs(b.docs, b.n).length
        val tfs = BlockCodec.decodeInts(b.tfs, b.n)
        sink += BlockCodec.decodeInts(b.dls, b.n).length
        sink += BlockCodec.decodePosLists(b.poss, tfs).length
      }
      if (sink < 0) println(sink)
      Report.secsSince(t0)
    }.min
    bytes / 1048576.0 / secs
  }

  /** Single-thread MB/s of `f` over `texts`, best of three passes. */
  def kernelMbS(texts: Array[UTF8String])(f: UTF8String => Long): Double = {
    val bytes = texts.map(_.numBytes().toLong).sum
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var sink = 0L
      texts.foreach(t => sink += f(t))
      if (sink < 0) println(sink)
      Report.secsSince(t0)
    }.min
    bytes / 1048576.0 / secs
  }

  def tokenizeMbS(texts: Array[UTF8String]): Double =
    kernelMbS(texts)(t => KrepTokenize.tokenize(t).length.toLong)

  def countFiles(dir: String, suffix: String): Int = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try files.iterator().asScala.count(_.toString.endsWith(suffix))
    finally files.close()
  }

  /** Url-keyed equality of two top-k answers given as (score, url): the
    * same scores, and the same urls above the k-th score. Ties at the cut
    * may pick different urls when the two sides number documents
    * differently (ties break by docId).
    */
  def sameByUrl(a: Seq[(Double, String)], b: Seq[(Double, String)], k: Int): Boolean = {
    def above(xs: Seq[(Double, String)]) = {
      val cut = if (xs.length < k) Double.NegativeInfinity else xs.map(_._1).min
      xs.filter(_._1 > cut).toSet
    }
    a.map(_._1).sorted == b.map(_._1).sorted && above(a) == above(b)
  }

  def build(spark: SparkSession, root: String, pages: Dataset[Page]): Unit =
    new IndexBuilder(spark, root, Cfg).build(pages)
}
