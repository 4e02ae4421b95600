package graft.index

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.RawLocalFileSystem
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.SynthWebText

/** Local files under the `sessionfs` scheme, which exists only where a
  * Hadoop conf registers it.
  */
class SessionOnlyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("sessionfs:///")
  override def getScheme: String = "sessionfs"
}

/** Executor-side file access (the dl sidecar writer and reader) must use the
  * session's Hadoop conf: a root on a FileSystem registered only in
  * `sparkContext.hadoopConfiguration` builds and appends like a local one.
  */
class SessionFileSystemSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("build and append under a scheme only the session conf registers") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.sessionfs.impl", classOf[SessionOnlyFileSystem].getName)
    // uncached: a lookup with a fresh Configuration must not find an
    // instance created from the session conf
    conf.setBoolean("fs.sessionfs.impl.disable.cache", true)

    val root = "sessionfs://" +
      Files.createTempDirectory("graft-sessionfs-").toString
    val cfg = IndexConfig(blockSize = 32, docsPerSegment = 128, partitions = 2)
    new IndexBuilder(spark, root, cfg)
      .build(SynthWebText.pages(spark, 300L, numPartitions = 2))
    val s = new graft.streaming.StreamingIndexer(spark, root, cfg)
    s.appendBatch(spark.range(300L, 400L, 1, 2).map(i => SynthWebText.page(i)))

    assert(s.ice.completedSteps("docs").rowCount == 400L)
    val hits = new graft.query.QueryEngine(spark, root)
      .search(SynthWebText.Markers(0), 10)
    assert(hits.nonEmpty)
  }
}
