package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.SynthWebText
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.QueryEngine

class StreamingIndexerSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val cfg = IndexConfig(blockSize = 32, docsPerSegment = 128, partitions = 2)
  private def t(r: Int) = SynthWebText.term(r)

  /** (score, url) results — url-keyed because batch and incremental builds
    * assign different docIds to the same documents.
    */
  private def resultsByUrl(root: String, q: String, k: Int): Seq[(Double, String)] =
    new QueryEngine(spark, root).searchDf(q, k).collect()
      .map(r => (r.getDouble(3), r.getString(2)))
      .sortBy { case (s, u) => (-s, u) }.toSeq

  test("incremental appendBatch x3 == one batch build (same urls + scores)") {
    import spark.implicits._
    val n = 900L
    val all = SynthWebText.pages(spark, n, numPartitions = 2).cache()

    val batchRoot = Files.createTempDirectory("graft-sb-").toString
    new IndexBuilder(spark, batchRoot, cfg).build(all)

    val streamRoot = Files.createTempDirectory("graft-ss-").toString
    val indexer = new StreamingIndexer(spark, streamRoot, cfg)
    Seq(0L until 300L, 300L until 600L, 600L until 900L).foreach { range =>
      indexer.appendBatch(
        spark.range(range.head, range.last + 1, 1, 2)
          .map(i => SynthWebText.page(i)))
    }

    // redelivery is a no-op (exactly-once per url)
    indexer.appendBatch(
      spark.range(0L, 100L, 1, 2).map(i => SynthWebText.page(i)))

    Seq(t(0), t(100), s"${t(3)} ${t(7)}", SynthWebText.Markers(0)).foreach { q =>
      val batch = resultsByUrl(batchRoot, q, 15)
      val stream = resultsByUrl(streamRoot, q, 15)
      assert(batch == stream, s"incremental index diverges on '$q'")
    }
    all.unpersist()
  }

  test("dict deltas: appends commit O(batch-vocab) rows, fold restores one base") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-dictdelta-").toString
    val indexer = new StreamingIndexer(spark, root, cfg)
    def batch(lo: Long, hi: Long) =
      spark.range(lo, hi, 1, 2).map(i => SynthWebText.page(i))
    indexer.appendBatch(batch(0L, 300L))
    val ice = indexer.ice
    val files1 = ice.completedSteps("dict").files
    indexer.appendBatch(batch(300L, 600L))
    val files2 = ice.completedSteps("dict").files
    // APPEND, not rewrite: every first-append dict file is still listed
    assert(files1.forall(files2.contains),
      "append must not rewrite committed dict files")
    // the delta carries the second batch's vocabulary only — strictly less
    // than the merged dictionary it used to rewrite
    val batch2Vocab = batch(300L, 600L)
      .select(org.apache.spark.sql.functions.explode(
        graft.krep.functions.krep_tokenize($"text"))).distinct().count()
    val deltaRows = files2.filterNot(files1.toSet).map(_._2).sum
    val totalRows = files2.map(_._2).sum
    assert(deltaRows == batch2Vocab,
      s"delta rows $deltaRows != batch vocabulary $batch2Vocab")
    assert(deltaRows < totalRows)
    // answers before/after folding the deltas are identical, and the fold
    // leaves exactly one dict version with one row per term
    val q = s"${t(0)} ${t(3)}"
    val before = resultsByUrl(root, q, 10)
    new graft.index.IndexCompactor(spark, root, cfg).compactDictionary()
    val foldedStep = ice.completedSteps("dict")
    val distinctTerms = ice.readTable(spark, "dict")
      .select("term").distinct().count()
    assert(foldedStep.rowCount == distinctTerms,
      "fold must leave one row per term")
    assert(resultsByUrl(root, q, 10) == before,
      "dictionary folding must be answer-invisible")
  }

  test("crashed appends are invisible to readers; retry converges without duplicates") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-crash-").toString
    val indexer = new StreamingIndexer(spark, root, cfg)
    def batch(lo: Long, hi: Long) =
      spark.range(lo, hi, 1, 2).map(i => SynthWebText.page(i))

    indexer.appendBatch(batch(0L, 300L))
    val q = s"${t(0)} ${t(3)}"
    def snapshotAnswer() = resultsByUrl(root, q, 10)
    val before = snapshotAnswer()
    val ice = new graft.index.IceTable(root,
      spark.sparkContext.hadoopConfiguration)
    val snapBefore = ice.currentSnapshotId

    // crash after the corpus/docs/tfrows deltas are written, before dict
    val e1 = intercept[RuntimeException] {
      indexer.appendBatch(batch(300L, 600L), crashBefore = Some("dict"))
    }
    assert(e1.getMessage.contains("injected crash"))
    assert(ice.currentSnapshotId == snapBefore, "no snapshot was committed")
    assert(snapshotAnswer() == before,
      "reader sees a half-appended batch after a pre-dict crash")

    // crash after EVERY table (incl. the new dict/stats versions) is written,
    // one instruction before the atomic commit
    val e2 = intercept[RuntimeException] {
      indexer.appendBatch(batch(300L, 600L), crashBefore = Some("commit"))
    }
    assert(e2.getMessage.contains("injected crash"))
    assert(ice.currentSnapshotId == snapBefore)
    assert(snapshotAnswer() == before,
      "reader sees uncommitted files after a pre-commit crash")

    // retry converges: same results as a clean streaming build of 0..600,
    // no duplicate urls, exact committed row counts (orphans stay invisible)
    indexer.appendBatch(batch(300L, 600L))
    assert(ice.completedSteps("docs").rowCount == 600L)
    val docs = ice.readTable(spark, "docs")
    assert(docs.count() == 600L)
    assert(docs.select($"url").distinct().count() == 600L)

    val cleanRoot = Files.createTempDirectory("graft-cleanstream-").toString
    val clean = new StreamingIndexer(spark, cleanRoot, cfg)
    clean.appendBatch(batch(0L, 300L))
    clean.appendBatch(batch(300L, 600L))
    Seq(t(0), s"${t(3)} ${t(7)}", SynthWebText.Markers(0)).foreach { qq =>
      assert(resultsByUrl(root, qq, 15) == resultsByUrl(cleanRoot, qq, 15),
        s"post-crash retry diverges on '$qq'")
    }

    // vacuum removes exactly the crashed attempts' orphans; answers unchanged
    val answer = snapshotAnswer()
    val orphans = Seq("corpus", "docs", "tfrows", "dict", "postings", "stats")
      .flatMap(ice.vacuum)
    assert(orphans.nonEmpty, "two crashed appends should have left orphan files")
    assert(snapshotAnswer() == answer, "vacuum changed query results")
    assert(ice.readTable(spark, "docs").count() == 600L)
    // a second vacuum is a no-op
    assert(Seq("corpus", "docs", "dict").flatMap(ice.vacuum).isEmpty)
  }

  test("time-travel engine answers from a pre-append snapshot") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tt-").toString
    val indexer = new StreamingIndexer(spark, root, cfg)
    indexer.appendBatch(spark.range(0L, 300L, 1, 2).map(i => SynthWebText.page(i)))
    val ice = new graft.index.IceTable(root,
      spark.sparkContext.hadoopConfiguration)
    val oldId = ice.currentSnapshotId.get
    val q = s"${t(0)} ${t(3)}"
    val before = resultsByUrl(root, q, 15)
    val nBefore = new QueryEngine(spark, root).stats.n

    indexer.appendBatch(spark.range(300L, 600L, 1, 2).map(i => SynthWebText.page(i)))

    val pinned = new QueryEngine(spark, root, snapshotId = Some(oldId))
    assert(pinned.stats.n == nBefore, "time-travel engine sees appended docs")
    val pinnedRes = pinned.searchDf(q, 15).collect()
      .map(r => (r.getDouble(3), r.getString(2)))
      .sortBy { case (s, u) => (-s, u) }.toSeq
    assert(pinnedRes == before,
      "time-travel engine diverges from the pre-append answer")
    // and the fresh engine DOES see the append
    assert(new QueryEngine(spark, root).stats.n == nBefore + 300L)
  }

  test("vacuum of a committed-but-empty table keeps the schema carrier") {
    import graft.index.{IceTable, StepInfo}
    import spark.implicits._
    val root = Files.createTempDirectory("graft-vac-").toString
    val ice = new IceTable(root, spark.sparkContext.hadoopConfiguration)
    // write rows (schema-bearing parquet exists in the dir), but commit the
    // table with ZERO files — the shape a crashed first append leaves behind
    Seq((1L, "a")).toDF("id", "v").write.parquet(ice.tablePath("t"))
    ice.commitStep(StepInfo("t", ice.tablePath("t"), 0L, Nil, Map.empty))
    ice.vacuum("t")
    // the empty-table read must still resolve the schema (and zero rows)
    val df = ice.readTable(spark, "t")
    assert(df.columns.toSeq == Seq("id", "v"))
    assert(df.count() == 0L)
  }

  test("vacuum of a never-committed table deletes every orphan") {
    import graft.index.IceTable
    import spark.implicits._
    val root = Files.createTempDirectory("graft-vac2-").toString
    val ice = new IceTable(root, spark.sparkContext.hadoopConfiguration)
    // a crashed first append wrote data but NO snapshot mentions the table:
    // nothing is a schema carrier, everything is garbage
    Seq((1L, "a")).toDF("id", "v").write.parquet(ice.tablePath("orphan"))
    val deleted = ice.vacuum("orphan")
    assert(deleted.nonEmpty)
    val left = new java.io.File(ice.tablePath("orphan"))
    assert(!left.exists() ||
      !left.listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("vacuum removes a crashed write's scratch leftovers, once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-vac3-").toString
    new IndexBuilder(spark, root, cfg)
      .build(spark.range(0L, 300L, 1, 2).map(i => SynthWebText.page(i)))
    val ice = new graft.index.IceTable(root,
      spark.sparkContext.hadoopConfiguration)
    val q = s"${t(0)} ${t(3)}"
    val before = resultsByUrl(root, q, 10)
    // the doc-length sidecar a build or append killed inside writePostings
    // leaves behind
    val dead = new java.io.File(ice.scratchPath("dl-dead"))
    assert(dead.mkdirs())
    Files.write(new java.io.File(dead, "seg-0.bin").toPath, Array[Byte](1, 2, 3))
    val tables = ice.completedSteps.keys.toSeq
    val deleted = tables.flatMap(ice.vacuum)
    assert(deleted == Seq(ice.scratchPath("dl-dead")))
    assert(!dead.exists())
    assert(resultsByUrl(root, q, 10) == before, "vacuum changed query results")
    assert(tables.flatMap(ice.vacuum).isEmpty, "a second vacuum deleted files")
  }

  test("readStream → watermark → dropDuplicates → foreachBatch end-to-end") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-in-").toString
    val ckDir = Files.createTempDirectory("graft-ck-").toString
    val root = Files.createTempDirectory("graft-st-").toString

    SynthWebText.pages(spark, 200L, numPartitions = 2)
      .write.mode("append").parquet(inDir)

    val indexer = new StreamingIndexer(spark, root, cfg)
    val q = indexer.start(inDir, ckDir)
      .asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
    // process what's available, then stop
    q.processAllAvailable()
    q.stop()

    val hits = new QueryEngine(spark, root).search(SynthWebText.Markers(0), 10)
    assert(hits.nonEmpty, "streamed index should answer the marker query")
  }

  test("termId <-> term stays a bijection across appends and a dict fold") {
    import spark.implicits._
    def words(prefix: String, n: Int) = (0 until n).map(i => s"$prefix${('a' + i).toChar}")
    def pages(name: String, terms: Seq[String]) = Seq(graft.corpus.Page(
      s"https://p0.example/$name", new java.sql.Timestamp(0L),
      Array.emptyByteArray, terms.mkString(" "), "en")).toDS()
    val base = words("aaaa", 10)
    val root = Files.createTempDirectory("graft-termids-").toString
    new IndexBuilder(spark, root, cfg).build(pages("base", base))
    val indexer = new StreamingIndexer(spark, root, cfg)
    // each delta repeats 5 known terms, so the dict row count outruns the
    // distinct term count until the fold shrinks it back
    indexer.appendBatch(pages("b1", base.take(5) ++ words("bbbb", 5)))
    indexer.appendBatch(pages("b2", base.take(5) ++ words("cccc", 5)))
    new graft.index.IndexCompactor(spark, root, cfg).compactDictionary()
    indexer.appendBatch(pages("b3", words("dddd", 6)))

    val pairs = indexer.ice.readTable(spark, "dict")
      .select($"termId", $"term").distinct().as[(Long, String)].collect()
    val byId = pairs.groupBy(_._1).filter(_._2.length > 1)
    assert(byId.isEmpty, s"termIds shared by several terms: ${byId.values.map(_.toSeq)}")
    assert(pairs.map(_._2).distinct.length == pairs.length, "a term has several ids")
    assert(pairs.length == 26)
    assert(indexer.ice.completedSteps("dict").metrics("nextTermId").toLong ==
      pairs.map(_._1).max + 1)
  }
}
