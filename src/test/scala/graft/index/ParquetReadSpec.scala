package graft.index

import java.io.File
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.SynthWebText
import graft.streaming.StreamingIndexer

/** [[GraftParquet.read]] reads the schema from a footer on the driver: it
  * must be the schema Spark's inference gives the same paths, and resolving
  * the relation must start no Spark job (inference starts one per read).
  */
class ParquetReadSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val cfg = IndexConfig(blockSize = 32, docsPerSegment = 128, partitions = 2)

  /** Spark jobs `f` starts. Listener events arrive in order, so a marked
    * job run after `f` and seen by the listener means every job `f` started
    * has been counted.
    */
  private def jobsOf[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val marks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).map(_.getProperty("spark.job.description"))
        if (desc.contains(ParquetReadSpec.Mark)) marks.incrementAndGet()
        else jobs.incrementAndGet()
      }
    }
    def mark(): Unit = {
      val seen = marks.get
      val sc = spark.sparkContext
      sc.setJobDescription(ParquetReadSpec.Mark)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(30)
      while (marks.get == seen && System.nanoTime < deadline) Thread.sleep(5)
      assert(marks.get > seen, "the listener never saw the marked job")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      mark()
      val j0 = jobs.get
      val a = f
      mark()
      (a, jobs.get - j0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Each read's schema resolves with no job and equals the inferred one. */
  private def assertFooterSchemas(reads: Seq[(String, () => StructType)],
      inferred: String => StructType): Unit = {
    val (schemas, nJobs) = jobsOf(reads.map { case (what, r) => what -> r() })
    assert(nJobs == 0, s"resolving ${reads.size} relations started $nJobs Spark jobs")
    schemas.foreach { case (what, s) =>
      assert(s == inferred(what), s"$what: footer schema != inferred schema")
    }
  }

  private def subdirs(dir: String): Seq[String] =
    Option(new File(dir).listFiles).toSeq.flatten
      .filter(_.isDirectory).map(_.getPath).sorted

  test("every sf0.001 fixture table: inferred schema, no Spark job") {
    val tables = new File(sfDir).list().filter(_.endsWith(".parquet")).sorted.toSeq
    assert(tables.size >= 10)
    val paths = tables.map(t => s"$sfDir/$t")
    assertFooterSchemas(paths.map(p => p -> (() => GraftParquet.read(spark, p).schema)),
      p => spark.read.parquet(p).schema)
  }

  test("every index table and delta directory after build, two appends and compaction") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-pqread-").toString
    new IndexBuilder(spark, root, cfg)
      .build(spark.range(0L, 300L, 1, 2).map(i => SynthWebText.page(i)))
    val s = new StreamingIndexer(spark, root, cfg)
    s.appendBatch(spark.range(300L, 400L, 1, 2).map(i => SynthWebText.page(i)))
    s.appendBatch(spark.range(400L, 500L, 1, 2).map(i => SynthWebText.page(i)))
    val compactor = new IndexCompactor(spark, root, cfg)
    compactor.compactPostings()
    compactor.compactDictionary()

    val ice = new IceTable(root, spark.sparkContext.hadoopConfiguration)
    val steps = ice.completedSteps
    assert(steps.keySet == Set("corpus", "docs", "stats", "tfrows", "dict", "postings"))
    // committed file lists, through the snapshot read
    assertFooterSchemas(steps.keys.toSeq.sorted.map(t =>
      t -> (() => ice.readTable(spark, t).schema)),
      t => spark.read.parquet(ice.snapshotFiles(t): _*).schema)
    // the appends' delta directories, the compactions' rewrites and the
    // table directories themselves
    val dirs = steps.keys.toSeq.sorted.flatMap(t => ice.tablePath(t) +: subdirs(ice.tablePath(t)))
    assert(dirs.size > steps.size + 2 * 5, s"too few delta directories: $dirs")
    assertFooterSchemas(dirs.map(d => d -> (() => GraftParquet.read(spark, d).schema)),
      d => spark.read.parquet(d).schema)
  }

  test("a filesystem registered only in sparkContext.hadoopConfiguration") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.sessionfs.impl", classOf[SessionOnlyFileSystem].getName)
    conf.setBoolean("fs.sessionfs.impl.disable.cache", true)
    val dir = "sessionfs://" + Files.createTempDirectory("graft-pqread-fs-").toString
    Seq((1L, "a", 2.5)).toDF("id", "v", "x").write.parquet(s"$dir/t")
    assertFooterSchemas(Seq(s"$dir/t" -> (() => GraftParquet.read(spark, s"$dir/t").schema)),
      p => spark.read.parquet(p).schema)
    assert(GraftParquet.read(spark, s"$dir/t").as[(Long, String, Double)].collect()
      .toSeq == Seq((1L, "a", 2.5)))
  }
}

object ParquetReadSpec {
  private val Mark = "parquet-read-spec-mark"
}
