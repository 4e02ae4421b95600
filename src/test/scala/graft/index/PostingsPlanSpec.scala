package graft.index

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.SynthWebText

/** Plan-shape guard on the one postings write path, for a batch-build input
  * and a streaming-append input: the only shuffle moves exactly
  * (termId, docId, posv), nothing broadcast carries dl, and writing the
  * postings runs no driver collect.
  */
class PostingsPlanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val cfg = IndexConfig(blockSize = 32, docsPerSegment = 128,
    partitions = 2)

  /** (tfrows, dict, dict rows, docs) of a batch build. */
  private def buildInput(): (DataFrame, DataFrame, Long, DataFrame) = {
    val root = Files.createTempDirectory("graft-plan-build-").toString
    val b = new IndexBuilder(spark, root, cfg)
    b.build(SynthWebText.pages(spark, 300L, numPartitions = 2))
    val ice = b.ice
    (ice.readTable(spark, "tfrows"),
      ice.readTable(spark, "dict").select("termId", "term"),
      ice.completedSteps("dict").rowCount, ice.readTable(spark, "docs"))
  }

  /** The same inputs as one append reads them: the batch's own deltas. */
  private def appendInput(): (DataFrame, DataFrame, Long, DataFrame) = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-plan-append-").toString
    val s = new graft.streaming.StreamingIndexer(spark, root, cfg)
    s.appendBatch(spark.range(0L, 200L, 1, 2).map(i => SynthWebText.page(i)))
    s.appendBatch(spark.range(200L, 300L, 1, 2).map(i => SynthWebText.page(i)))
    val ice = s.ice
    val tag = ice.completedSteps("stats").metrics("version")
    def delta(t: String) = spark.read.parquet(s"${ice.tablePath(t)}/$tag")
    (delta("tfrows"), delta("dict").select("termId", "term"),
      ice.parquetLineageIn("dict", tag).map(_._2).sum, delta("corpus"))
  }

  private def checkPlan(in: (DataFrame, DataFrame, Long, DataFrame)): Unit = {
    val (tfrows, dict, dictRows, _) = in
    // AQE hides the exchanges inside AdaptiveSparkPlanExec until execution;
    // with it off, executedPlan is the full static plan
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try IndexBuilder.postingBlocks(tfrows, dict, dictRows,
        "unused", cfg, new SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      .queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"expected one shuffle:\n$plan")
    assert(shuffles.head.output.map(_.name) == Seq("termId", "docId", "posv"),
      s"shuffle moves more than (termId, docId, posv):\n$plan")
    val broadcasts = plan.collect { case e: BroadcastExchangeExec => e }
    assert(broadcasts.forall(_.output.map(_.name).toSet == Set("termId", "term")),
      s"a broadcast carries more than the dict:\n$plan")
  }

  /** Names of the Dataset actions `body` runs. */
  private def actionsOf(body: => Unit): Seq[String] = {
    val names = ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        names.synchronized(names += f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        names.synchronized(names += f)
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus is async: wait for the sidecar and postings writes
      val deadline = System.nanoTime() + 20000000000L
      while (names.synchronized(names.size) < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(500)
    } finally spark.listenerManager.unregister(listener)
    names.synchronized(names.toList)
  }

  private def checkNoCollect(in: (DataFrame, DataFrame, Long, DataFrame)): Unit = {
    val (tfrows, dict, dictRows, docs) = in
    val tmp = Files.createTempDirectory("graft-plan-out-").toString
    val actions = actionsOf(IndexBuilder.writePostings(tfrows, dict, dictRows,
      docs, s"$tmp/postings", s"$tmp/scratch", cfg))
    assert(actions.size >= 2, s"listener saw too few actions: $actions")
    assert(!actions.exists(a => a.startsWith("collect") || a == "head" ||
      a == "take" || a == "toLocalIterator"),
      s"postings write ran a driver collect: $actions")
    assert(!new java.io.File(s"$tmp/scratch").exists(),
      "the dl sidecar outlived the postings write")
  }

  test("build input: one (termId, docId, posv) shuffle, no dl broadcast or collect") {
    val in = buildInput()
    checkPlan(in)
    checkNoCollect(in)
  }

  test("append input: one (termId, docId, posv) shuffle, no dl broadcast or collect") {
    val in = appendInput()
    checkPlan(in)
    checkNoCollect(in)
  }
}
