package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._

/** Index maintenance: compaction of streaming-append debris.
  *
  * Every [[graft.streaming.StreamingIndexer]] batch commits its own immutable
  * posting files, so a term served by K appends is spread over K small blocks
  * in K files. Queries stay correct (per-term blocks are disjoint sorted runs
  * merged by firstDoc), but at 10^12 docs the per-block and per-file overhead
  * compounds: more rows to skip-scan, shorter runs for WAND to skip within.
  * Compaction decodes every committed block, regroups the postings at full
  * block size under the SAME (termId, docId-segment) partitioning as the
  * batch build, and commits the rewrite as one atomic snapshot — readers see
  * the old layout or the new, never a mix, and engines pinned to an older
  * snapshot keep reading the old files (standard expire-snapshots semantics
  * apply before vacuum).
  *
  * Position strips are NOT re-coded: per-posting strips are independent
  * (delta state resets per list — BlockCodec.packPositions), so compaction
  * slices the concatenated `poss` bytes at posting boundaries (walking the
  * tf varints) and the new blocks concatenate the same bytes in the new
  * grouping — byte-exact, no int materialization.
  */
final class IndexCompactor(spark: SparkSession, root: String,
    cfg: IndexConfig) {

  private val ice = new IceTable(root, spark.sparkContext.hadoopConfiguration)

  /** Rewrite the postings table at full block size; returns the new snapshot
    * id. Pure re-layout: the decoded (termId, docId, tf, dl, positions)
    * multiset is unchanged, so WAND / phrase / scan results are identical.
    *
    * The commit is optimistic (`IceTable.commitAtomically`): the new step
    * drops exactly the files this compaction DECODED from the current list
    * and keeps everything else — so an append that lands while the rewrite
    * is running keeps its files in the committed snapshot instead of being
    * silently dropped by a last-wins commit. `beforeCommit` is a test hook
    * for injecting exactly that interleaving.
    */
  def compactPostings(beforeCommit: () => Unit = () => ()): Long = {
    // ONE snapshot capture drives both the rewritten-file set and the read:
    // resolving completedSteps twice would let an append commit in between,
    // decoding its postings into the rewrite while commitRewrite also keeps
    // its original files — duplicating that batch
    val snap = ice.completedSteps
    val tag = reencode(ice.readSteps(spark, snap, "postings"))
    beforeCommit()
    commitRewrite("postings", tag, snap("postings").files.map(_._1).toSet,
      Map("compacted" -> "true"))
  }

  /** Decode `blocks` to postings and re-encode them at full block size under
    * the batch build's (termId, docId-segment) partitioning, into a fresh
    * `postings/<tag>` directory; returns the tag.
    */
  private def reencode(blocks: DataFrame): String = {
    import spark.implicits._
    val rows = blocks.as[PosPostingBlock].flatMap { b =>
      val docs = BlockCodec.decodeDeltaLongs(b.docs, b.n)
      val tfs = BlockCodec.decodeInts(b.tfs, b.n)
      val dls = BlockCodec.decodeInts(b.dls, b.n)
      val strips = IndexCompactor.splitStrips(b.poss, tfs)
      Iterator.tabulate(b.n)(i => (b.termId, docs(i), tfs(i), dls(i), strips(i)))
    }.toDF("termId", "docId", "tf", "dl", "posv")
    val sorted = rows
      .repartition(cfg.partitions, $"termId",
        floor($"docId" / cfg.docsPerSegment))
      .sortWithinPartitions($"termId", $"docId")
      .as[(Long, Long, Int, Int, Array[Byte])]
    val tag = newTag()
    IndexBuilder.encodeBlocks(sorted, cfg.blockSize, cfg.docsPerSegment)
      .toDF().write.parquet(s"${ice.tablePath("postings")}/$tag")
    tag
  }

  private def newTag(): String =
    s"compact-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Commit the rewrite of `table` in `<table>/<tag>` optimistically. The
    * make closure re-verifies against the CURRENT snapshot that every file
    * this rewrite read is still listed: a concurrent compaction that already
    * replaced any of them makes this rewrite a stale duplicate of the same
    * content — committing it would double that content (the loser would
    * keep the winner's rewrite AND add its own copy). The stale loser aborts
    * as a no-op: its output files are deleted and the current snapshot id is
    * returned unchanged. A dict commit carries the current `nextTermId`
    * forward (a fold keeps every termId).
    */
  private def commitRewrite(table: String, tag: String, rewritten: Set[String],
      metrics: Map[String, String]): Long = {
    val newFiles = ice.parquetLineageIn(table, tag)
    try ice.commitAtomically { cur =>
      val curNames = cur(table).files.map(_._1).toSet
      if (!rewritten.forall(curNames))
        throw IndexCompactor.StaleRewrite
      val kept = cur(table).files.filterNot { case (name, _) =>
        rewritten(name)
      }
      val files = kept ++ newFiles
      val watermark = cur(table).metrics.get(IndexBuilder.NextTermId)
        .map(IndexBuilder.NextTermId -> _)
      Seq(StepInfo(table, ice.tablePath(table), files.map(_._2).sum, files,
        Map("version" -> tag, "rewrittenFiles" -> rewritten.size.toString,
          "keptFiles" -> kept.size.toString) ++ watermark ++ metrics))
    } catch {
      case IndexCompactor.StaleRewrite =>
        val dir = new org.apache.hadoop.fs.Path(s"${ice.tablePath(table)}/$tag")
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(dir, true)
        ice.currentSnapshotId.get
    }
  }

  /** Selective compaction — the shape that survives 100 TB: only files
    * dominated by SPLIT posting runs are rewritten (the Iceberg
    * rewrite-data-files-with-filter discipline — compacting 1% of debris
    * must not rewrite the other 99%). The debris signature of this layout is
    * a (termId, segId) group whose blocks span several files: the batch
    * build and a full compaction place each group in exactly one partition
    * file, while every streaming append adds its own file per touched
    * segment. A file is rewritten when more than `minSplitFrac` of its
    * blocks belong to split groups — measured from the metadata columns
    * alone (termId, segId — columnar read, block payloads stay on disk).
    * Correctness is unaffected by partial rewrites: every doc is indexed
    * once, so blocks from rewritten and untouched files remain disjoint
    * sorted runs that the query-time merge orders by firstDoc.
    *
    * Returns the new snapshot id, or the current one unchanged when no file
    * crosses the threshold (no empty commits).
    */
  def compactPostingsSelective(minSplitFrac: Double = 0.3): Long = {
    import spark.implicits._
    val snap = ice.completedSteps // one capture: plan and read the same state
    val step = snap("postings")
    val committed = step.files.map { case (name, _) => name }
    val meta = ice.readSteps(spark, snap, "postings")
      .select(input_file_name().as("f"), $"termId", $"segId")
    val splitGroups = meta.groupBy($"termId", $"segId")
      .agg(countDistinct($"f").as("nf"))
    val byFile = meta.join(splitGroups, Seq("termId", "segId"))
      .groupBy($"f")
      .agg(avg(when($"nf" > 1, 1.0).otherwise(0.0)).as("splitFrac"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    def relOf(uri: String): String =
      committed.find(name => uri.endsWith(name)).getOrElse(
        sys.error(s"uncommitted postings file in snapshot read: $uri"))
    val fragmented = byFile
      .filter { case (_, frac) => frac > minSplitFrac }
      .map { case (uri, _) => relOf(uri) }.toSet
    if (fragmented.isEmpty) return ice.currentSnapshotId.get

    val fragPaths = fragmented.toSeq.sorted.map(n => s"${ice.tablePath("postings")}/$n")
    val tag = reencode(GraftParquet.read(spark, fragPaths: _*))
    commitRewrite("postings", tag, fragmented, Map("compacted" -> "selective"))
  }

  /** Fold the dictionary's per-append delta files into one sorted base:
    * (termId, term) groups sum their partial df/cf and the result is
    * range-partitioned + sorted by term (restoring the `orderedBy term`
    * row-group pruning property of a fresh build). Readers are
    * merge-on-read, so folding is a pure re-layout — answers identical
    * before and after; same loser-aborts optimistic commit as the postings
    * rewrite.
    */
  def compactDictionary(): Long = {
    import spark.implicits._
    val snap = ice.completedSteps
    val folded = ice.readSteps(spark, snap, "dict")
      .groupBy($"termId", $"term")
      .agg(sum($"df").as("df"), sum($"cf").as("cf"))
      .repartitionByRange(cfg.partitions, $"term")
      .sortWithinPartitions($"term")
      .select($"termId", $"term", $"df", $"cf")
    val tag = newTag()
    folded.write.parquet(s"${ice.tablePath("dict")}/$tag")
    commitRewrite("dict", tag, snap("dict").files.map(_._1).toSet,
      Map("compacted" -> "dict-fold", "orderedBy" -> "term"))
  }

  /** Small-file compaction for a row table (corpus/docs/tfrows): rewrite the
    * committed file set into `numFiles` files, committed as a new version.
    * Content-preserving (no ordering contract on these tables — every reader
    * sorts or joins by key).
    */
  def compactTable(name: String, numFiles: Int): Long = {
    val snap = ice.completedSteps // one capture: plan and read the same state
    val tag = newTag()
    ice.readSteps(spark, snap, name).repartition(numFiles)
      .write.parquet(s"${ice.tablePath(name)}/$tag")
    commitRewrite(name, tag, snap(name).files.map(_._1).toSet,
      Map("compacted" -> "true"))
  }
}

object IndexCompactor {
  /** Control-flow sentinel: a rewrite lost a compaction-vs-compaction race
    * (its decoded source files are no longer all in the current snapshot).
    */
  private object StaleRewrite extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** Slice a block's concatenated position strips into per-posting strips:
    * posting i owns the next `tfs(i)` varints. Byte-exact — the slices
    * re-concatenate to the original buffer in any regrouping.
    */
  def splitStrips(poss: Array[Byte], tfs: Array[Int]): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](tfs.length)
    var pos = 0
    var i = 0
    while (i < tfs.length) {
      val start = pos
      var remaining = tfs(i)
      while (remaining > 0) {
        while ((poss(pos) & 0x80) != 0) pos += 1
        pos += 1 // terminal byte of this varint
        remaining -= 1
      }
      out(i) = java.util.Arrays.copyOfRange(poss, start, pos)
      i += 1
    }
    out
  }
}
