package graft.index

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.SynthWebText

/** The postings write path (slim (termId, docId, posv) exchange, tf
  * re-derived from the posv strip's varint count, dl from the per-segment
  * sidecar) must be a pure physical optimization: byte-identical blocks to
  * the compaction encoder [[IndexBuilder.encodeBlocks]] fed dl-carrying rows
  * assembled here from the committed tfrows ⋈ dict ⋈ docs.
  */
class SlimExchangeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val cfg = IndexConfig(blockSize = 64, docsPerSegment = 512,
    partitions = 4)

  private def blockSig(blocks: DataFrame): Set[String] = {
    import spark.implicits._
    blocks.select(concat_ws("|", $"termId", $"segId", $"firstDoc", $"lastDoc",
        $"n", $"maxTf", $"minDl", sha2($"docs", 256), sha2($"tfs", 256),
        sha2($"dls", 256), sha2($"poss", 256)))
      .as[String].collect().toSet
  }

  private def committedSig(root: String): Set[String] =
    blockSig(new IceTable(root, spark.sparkContext.hadoopConfiguration)
      .readTable(spark, "postings"))

  /** Reference blocks of an index: one [[IndexBuilder.encodeBlocks]] pass
    * per docId range `[lo, hi)` (a batch build is one range; each append
    * encodes only its own batch).
    */
  private def referenceSig(root: String, ranges: Seq[(Long, Long)]): Set[String] = {
    import spark.implicits._
    val ice = new IceTable(root, spark.sparkContext.hadoopConfiguration)
    val dict = ice.readTable(spark, "dict").select($"termId", $"term").distinct()
    val rows = ice.readTable(spark, "tfrows").join(dict, "term")
      .join(ice.readTable(spark, "docs").select($"docId", $"dl"), "docId")
      .select($"termId", $"docId", $"tf".cast("int"), $"dl".cast("int"), $"posv")
    ranges.map { case (lo, hi) =>
      val sorted = rows.filter($"docId" >= lo && $"docId" < hi)
        .as[(Long, Long, Int, Int, Array[Byte])]
        .repartition(cfg.partitions, $"termId",
          floor($"docId" / cfg.docsPerSegment))
        .sortWithinPartitions($"termId", $"docId")
      blockSig(IndexBuilder.encodeBlocks(sorted, cfg.blockSize,
        cfg.docsPerSegment).toDF())
    }.reduce(_ ++ _)
  }

  private def assertSame(got: Set[String], want: Set[String]): Unit = {
    assert(want.nonEmpty)
    assert(got == want,
      s"block sets differ: written-only=${(got diff want).take(3)} " +
        s"reference-only=${(want diff got).take(3)}")
  }

  test("build blocks == encodeBlocks reference, byte-identical") {
    val nDocs = 3000L
    val root = Files.createTempDirectory("graft-slim-").toString
    new IndexBuilder(spark, root, cfg)
      .build(SynthWebText.pages(spark, nDocs, numPartitions = 4))
    assertSame(committedSig(root), referenceSig(root, Seq((0L, nDocs))))
  }

  test("append blocks == encodeBlocks reference, mid-segment start") {
    import spark.implicits._
    def batch(lo: Long, hi: Long) =
      spark.range(lo, hi, 1, 2).map(i => SynthWebText.page(i))
    // the second batch's docIds 700..1299 start inside segment 1 (512..1023)
    // and cross into segment 2; a plain shuffle dict join (threshold 0)
    // covers the non-broadcast side of the join gate
    val root = Files.createTempDirectory("graft-stream-slim-").toString
    val idx = new graft.streaming.StreamingIndexer(spark, root,
      cfg.copy(dictBroadcastThreshold = 0L))
    idx.appendBatch(batch(0L, 700L))
    idx.appendBatch(batch(700L, 1300L))
    assertSame(committedSig(root),
      referenceSig(root, Seq((0L, 700L), (700L, 1300L))))

    // streaming == batch (url-keyed: batch and incremental builds assign
    // different docIds to the same documents)
    val batchRoot = Files.createTempDirectory("graft-stream-batch-").toString
    new IndexBuilder(spark, batchRoot, cfg)
      .build(SynthWebText.pages(spark, 1300L, numPartitions = 4))
    val q = Seq(0, 3, 7).map(SynthWebText.term).mkString(" ")
    def byUrl(root: String): Seq[(Double, String)] =
      new graft.query.QueryEngine(spark, root)
        .searchDf(q, 10).collect()
        .map(r => (r.getDouble(3), r.getString(2)))
        .sortBy { case (s, u) => (-s, u) }.toSeq
    val want = byUrl(batchRoot)
    assert(want.nonEmpty)
    assert(byUrl(root) == want)
  }

  test("countVarints recovers tf from every packed strip shape") {
    val rnd = new scala.util.Random(7)
    (0 until 200).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      // strictly increasing ordinals with occasional multi-byte deltas
      val xs = Iterator.iterate(rnd.nextInt(1000))(
        p => p + 1 + rnd.nextInt(300)).take(n).toArray
      assert(BlockCodec.countVarints(BlockCodec.packPositions(xs)) == n)
    }
    assert(BlockCodec.countVarints(Array.empty[Byte]) == 0)
  }
}
