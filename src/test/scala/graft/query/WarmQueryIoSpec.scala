package graft.query

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.SynthWebText
import graft.index.{IndexBuilder, IndexConfig}

/** Local files under the `countfs` scheme, counting the calls that read
  * or resolve them.
  */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.calls.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingFileSystem.calls.incrementAndGet()
    super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFileSystem.calls.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingFileSystem {
  val calls = new AtomicLong
}

/** A driver-tier engine holds its dict, blocks and corpus text once warm,
  * so a second query of each kind must be pure CPU: no `open`,
  * `getFileStatus` or `listStatus` on the index root and no Spark job.
  */
class WarmQueryIoSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Spark jobs started and filesystem calls made by `f`. Listener events
    * arrive in order, so a marked job run after `f` and seen by the
    * listener means every job `f` started has been counted.
    */
  private def jobsAndCalls(jobs: AtomicInteger, marks: AtomicInteger)(
      f: => Unit): (Int, Long) = {
    def mark(): Unit = {
      val seen = marks.get
      val sc = spark.sparkContext
      sc.setJobDescription(WarmQueryIoSpec.Mark)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(30)
      while (marks.get == seen && System.nanoTime < deadline) Thread.sleep(5)
      assert(marks.get > seen, "the listener never saw the marked job")
    }
    mark()
    val (j0, c0) = (jobs.get, CountingFileSystem.calls.get)
    f
    val c1 = CountingFileSystem.calls.get
    mark()
    (jobs.get - j0, c1 - c0)
  }

  test("a warm driver-tier query of every kind touches no file and launches no Spark job") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    conf.setBoolean("fs.countfs.impl.disable.cache", true)
    val root = "countfs://" + Files.createTempDirectory("graft-countfs-").toString
    new IndexBuilder(spark, root,
      IndexConfig(blockSize = 32, docsPerSegment = 128, partitions = 2))
      .build(spark.range(0L, 400L, 1, 2).map(i => SynthWebText.page(i)))

    val jobs = new AtomicInteger
    val marks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).map(_.getProperty("spark.job.description"))
        if (desc.contains(WarmQueryIoSpec.Mark)) marks.incrementAndGet()
        else jobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val engine = new QueryEngine(spark, root)
      val t = SynthWebText.term _
      val kinds: Seq[(String, () => Array[ScoredDoc])] = Seq(
        "search" -> (() => engine.search(s"${t(0)} ${t(3)}", 10)),
        "searchConjunctive" -> (() => engine.searchConjunctive(s"${t(0)} ${t(1)}", 10)),
        "searchConjunctive with exclude" ->
          (() => engine.searchConjunctive(s"${t(0)} ${t(1)}", 10, exclude = t(2))),
        "searchPhrase" -> (() => engine.searchPhrase(SynthWebText.Markers(0), 10)),
        "searchMultiPattern" ->
          (() => engine.searchMultiPattern(Seq(t(5).take(3), t(7).take(3)), 10)),
        "searchRegex" -> (() => engine.searchRegex(s"^${t(5).take(2)}\\w*$$", 10)))

      kinds.foreach { case (kind, q) =>
        val warm = q()
        assert(warm.nonEmpty, s"$kind: the warm-up query found nothing")
        var again: Array[ScoredDoc] = null
        val (nJobs, nCalls) = jobsAndCalls(jobs, marks) { again = q() }
        assert(again.toSeq == warm.toSeq, s"$kind: the second call answered differently")
        assert(nCalls == 0, s"$kind: a warm call made $nCalls filesystem calls")
        assert(nJobs == 0, s"$kind: a warm call launched $nJobs Spark jobs")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object WarmQueryIoSpec {
  private val Mark = "warm-query-io-mark"
}
