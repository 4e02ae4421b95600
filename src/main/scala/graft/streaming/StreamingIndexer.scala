package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.corpus.Page
import graft.index.{IceTable, IndexConfig, PosPostingBlock, Ranker, StepInfo}
import graft.index.IndexBuilder._

/** Incremental index maintenance (SURVEY.md §2.8): new pages append new
  * posting blocks; nothing already written is rewritten except the small
  * dict/stats tables.
  *
  * This works because posting blocks carry stats-independent bounds
  * (maxTf/minDl) instead of baked max-scores: BM25 idf/avgdl are resolved at
  * query time from the CURRENT snapshot, so appending documents only shifts
  * scores through the (N, df, avgdl) statistics — exactly as a batch rebuild
  * over the grown corpus would.
  *
  * Streaming surface: `start` wires readStream → watermark on warc_ts →
  * dropDuplicates(url) within the watermark → foreachBatch(appendBatch).
  * Each micro-batch commits one atomic snapshot; a crash between batches
  * resumes from the checkpoint + last snapshot (both idempotent).
  *
  * Scale note: stats is the only table REWRITTEN per batch (one row). The
  * dictionary commits per-batch DELTAS merged on read (Lucene-style
  * per-segment dictionaries): each append writes O(batch vocabulary) dict
  * rows carrying PARTIAL df/cf summed at read time, with committed termIds
  * reused and new terms extending the id watermark —
  * [[graft.index.IndexCompactor.compactDictionary]] folds the deltas back
  * into one sorted base.
  */
final class StreamingIndexer(spark: SparkSession, root: String,
    cfg: IndexConfig = IndexConfig()) {

  import spark.implicits._

  val ice = new IceTable(root, spark.sparkContext.hadoopConfiguration)

  /** Bootstrap an empty index layout if this root has no snapshot yet.
    *
    * Direct bootstrap instead of `IndexBuilder.build(empty)`: the full step
    * machinery on an empty corpus still paid the range-sampler/zipWithIndex
    * jobs of two Ranker invocations and SIX separate snapshot commits
    * (~1.8 s measured warm). The schemas here are the build's own
    * expressions applied to the same empty input (schema-identical parquet
    * carriers); stats keeps its one (0, 0.0) row; everything lands in ONE
    * atomic snapshot. Crash-safe: a crash before the commit leaves only
    * overwrite-mode orphans and the retry re-runs from nothing.
    */
  def ensureInitialized(): Unit = {
    if (ice.currentSnapshotId.isEmpty) bootstrapEmpty()
  }

  private def bootstrapEmpty(): Unit = {
    def write(df: DataFrame, table: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(ice.tablePath(table))
    val corpus = corpusRows(spark.emptyDataset[Page]
      .select(lit(0L).as("docId"), $"url", $"text"))
    write(corpus, "corpus")
    val docs = docRows(corpus)
    write(docs, "docs")
    write(statsRow(docs), "stats")
    val tfrows = tfRows(corpus)
    write(tfrows, "tfrows")
    write(termCounts(tfrows)
      .select(lit(0L).as("termId"), $"term", $"df", $"cf"), "dict")
    write(spark.emptyDataset[PosPostingBlock].toDF(), "postings")
    ice.commitSteps(Seq("corpus", "docs", "stats", "tfrows", "dict",
      "postings").map { n =>
      val lineage = ice.parquetLineage(n)
      val watermark = if (n == "dict") Map(NextTermId -> "0") else Map.empty
      StepInfo(n, ice.tablePath(n), lineage.map(_._2).sum,
        lineage, Map("bootstrap" -> "empty") ++ watermark)
    })
  }

  /** Append one batch of pages — crash-atomic and idempotent.
    *
    * Every write lands in a fresh immutable subdirectory of its table
    * (`<table>/b<snapId>-<uuid>/`); nothing committed is ever rewritten in
    * place (dict and stats get whole new VERSIONS, not overwrites). The batch
    * becomes visible in ONE [[IceTable.commitSteps]] snapshot at the very
    * end: a crash at any earlier point leaves only orphan files that no
    * snapshot references, so concurrent readers keep answering from the old
    * snapshot and a retry — whose url anti-join reads the COMMITTED docs, not
    * the directory — re-processes the batch cleanly (exactly-once per url
    * under redelivery).
    *
    * `crashBefore` injects a failure before the named point ("dict",
    * "commit") for the atomicity tests.
    */
  def appendBatch(batch: Dataset[Page], crashBefore: Option[String] = None)
      : Unit = synchronized {
    ensureInitialized()
    val steps = ice.completedSteps
    val baseN = steps("docs").rowCount
    val nextTermId = steps("dict").metrics.get(NextTermId).map(_.toLong)
      .getOrElse(maxTermIdPlusOne(ice.readTable(spark, "dict")))
    val tag = s"b${ice.currentSnapshotId.getOrElse(0L)}-" +
      java.util.UUID.randomUUID().toString.take(8)
    def crash(point: String): Unit =
      if (crashBefore.contains(point))
        throw new RuntimeException(s"injected crash before $point")

    // dedupe within batch and against the COMMITTED index (anti join on
    // url). Persisted: the empty check, the ranker's range sampler, its
    // zipWithIndex count job and the corpus write would otherwise
    // re-evaluate the source + dedup shuffle + anti-join pipeline ~4x.
    val existingDocs = ice.readTable(spark, "docs")
    val fresh = batch.dropDuplicates("url")
      .join(existingDocs.select($"url"), Seq("url"), "left_anti")
      .select($"url", $"text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (fresh.isEmpty) return
      appendFresh(fresh, baseN, nextTermId, tag, crash)
    } finally fresh.unpersist(false)
  }

  /** Index written before the watermark metric: max termId + 1. */
  private def maxTermIdPlusOne(dict: DataFrame): Long =
    dict.agg(coalesce(max($"termId") + 1, lit(0L))).head().getLong(0)

  private def appendFresh(fresh: DataFrame, baseN: Long, nextTermId: Long,
      tag: String, crash: String => Unit): Unit = {
    // new docIds continue the dense sequence: baseN + rank(url within batch)
    val ranked = Ranker.denseIdsByKey(fresh, "url", "batchRank", cfg.partitions)
      .withColumn("docId", $"batchRank" + lit(baseN)).drop("batchRank")

    def deltaDir(table: String): String = s"${ice.tablePath(table)}/$tag"

    corpusRows(ranked).write.parquet(deltaDir("corpus"))
    // read the delta back once: corpus/docs/tfrows/postings all derive from it
    val corpusDeltaC = GraftParquet.read(spark, deltaDir("corpus"))
    docRows(corpusDeltaC).write.parquet(deltaDir("docs"))
    tfRows(corpusDeltaC).write.parquet(deltaDir("tfrows"))
    val tfDeltaC = GraftParquet.read(spark, deltaDir("tfrows"))

    crash("dict")
    // dict DELTA (Lucene-style per-segment dictionary): the batch writes
    // ONLY its own vocabulary — (termId, term, df, cf) rows whose df/cf are
    // this batch's PARTIAL counts, resolved by summation at read time
    // (IndexDict.merge* / the aggregated scan paths). Known terms reuse
    // their committed termId via a join against the DISTINCT committed
    // (termId, term) pairs; brand-new terms take ids from the committed
    // `nextTermId` watermark up. An append therefore writes O(batch
    // vocabulary) dict bytes, not O(dict).
    val oldTerms = ice.readTable(spark, "dict")
      .select($"termId", $"term").distinct()
    // persisted: the known/new split references the join twice and the
    // new-term ranker's range partitioner samples it a third time
    val withIds = termCounts(tfDeltaC).join(oldTerms, Seq("term"), "left_outer")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val known = withIds.filter($"termId".isNotNull)
        .select($"termId", $"term", $"df", $"cf")
      val newTerms = Ranker.denseIdsByKey(
        withIds.filter($"termId".isNull).select($"term", $"df", $"cf"),
        "term", "newRank", cfg.partitions)
        .select(($"newRank" + lit(nextTermId)).as("termId"), $"term",
          $"df", $"cf")
      known.unionByName(newTerms).write.parquet(deltaDir("dict"))
    } finally withIds.unpersist(false)
    val dictDelta = GraftParquet.read(spark, deltaDir("dict"))
    val nextTermIdAfter = math.max(nextTermId, maxTermIdPlusOne(dictDelta))

    // postings delta: the batch build's write path over the batch's own
    // DELTA dictionary (exactly this batch's vocabulary, termIds included),
    // its broadcast gated on the delta's row count read from the parquet
    // footers just written — a vocabulary-heavy batch is never broadcast
    writePostings(tfDeltaC, dictDelta.select($"termId", $"term"),
      ice.parquetLineageIn("dict", tag).map(_._2).sum, corpusDeltaC,
      deltaDir("postings"), ice.scratchPath(s"dl-$tag"), cfg)

    // stats: committed docs ∪ this delta — a new version directory
    statsRow(ice.readTable(spark, "docs").select($"dl")
      .unionByName(corpusDeltaC.select($"dl")))
      .write.parquet(deltaDir("stats"))

    crash("commit")
    // ONE atomic snapshot: append tables keep their committed files + the
    // batch's; versioned tables (dict, stats) list only the new version.
    // The commit is OPTIMISTIC: the appended file lists derive from the
    // step map at commit time, not from this batch's entry snapshot — if a
    // compaction (which only re-lays-out files, never changes logical
    // content) committed while this batch was computing, the retry keeps
    // the compacted lists and adds only this batch's delta files. Appends
    // themselves serialize (synchronized + docId/dict assignment).
    def lineage(t: String) = ice.parquetLineageIn(t, tag)
    ice.commitAtomically { cur =>
      def appended(t: String, metrics: Map[String, String] = Map.empty)
          : StepInfo = {
        val files = cur(t).files ++ lineage(t)
        StepInfo(t, ice.tablePath(t), files.map(_._2).sum, files,
          Map("appended" -> "true") ++ metrics)
      }
      def versioned(t: String): StepInfo = {
        val files = lineage(t)
        StepInfo(t, ice.tablePath(t), files.map(_._2).sum, files,
          Map("version" -> tag))
      }
      Seq(appended("corpus"), appended("docs"), appended("tfrows"),
        appended("dict", Map(NextTermId -> nextTermIdAfter.toString)),
        appended("postings"), versioned("stats"))
    }
  }

  /** Continuous ingestion from a parquet directory of Page rows. */
  def start(inputDir: String, checkpointDir: String,
      watermark: String = "1 hour"): StreamingQuery = {
    spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Page]].schema)
      .parquet(inputDir)
      .as[Page]
      .withWatermark("warc_ts", watermark)
      .dropDuplicates("url")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Page], _: Long) => appendBatch(batch) }
      .start()
  }
}
