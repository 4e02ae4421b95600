package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.corpus.Page
import graft.krep.{functions => K}

/** The block fields every query kernel reads, shared by [[PostingBlock]]
  * and [[PosPostingBlock]]: one posting cursor (`graft.query.PostingCursor`)
  * and one segment bucketing serve both row shapes.
  */
trait BlockFields {
  def termId: Long
  def segId: Long
  def firstDoc: Long
  def lastDoc: Long
  def n: Int
  def maxTf: Int
  def minDl: Int
  def docs: Array[Byte]
  def tfs: Array[Byte]
  def dls: Array[Byte]
}

/** One compressed posting block: ≤ blockSize postings of one term, never
  * spanning a docId segment boundary. docIds delta+varint; tf/dl varint.
  * maxTf/minDl give the block's BM25 upper bound at query time (block-max
  * WAND) without baking corpus stats into the stored index.
  */
final case class PostingBlock(
    termId: Long,
    segId: Long,
    firstDoc: Long,
    lastDoc: Long,
    n: Int,
    maxTf: Int,
    minDl: Int,
    docs: Array[Byte],
    tfs: Array[Byte],
    dls: Array[Byte]) extends BlockFields

/** The stored posting-block row: [[PostingBlock]] plus the positional payload
  * `poss` (per-posting token-ordinal lists, delta+varint — lengths are the tf
  * values). Parquet is columnar, so the WAND path projects the PostingBlock
  * columns only and never reads `poss`; the phrase path reads the full row.
  */
final case class PosPostingBlock(
    termId: Long,
    segId: Long,
    firstDoc: Long,
    lastDoc: Long,
    n: Int,
    maxTf: Int,
    minDl: Int,
    docs: Array[Byte],
    tfs: Array[Byte],
    dls: Array[Byte],
    poss: Array[Byte]) extends BlockFields

object PostingBlock {
  /** Column list of the positions-free WAND projection. */
  val wandColumns: Seq[String] = Seq("termId", "segId", "firstDoc", "lastDoc",
    "n", "maxTf", "minDl", "docs", "tfs", "dls")
}

final case class IndexConfig(
    blockSize: Int = 128,
    docsPerSegment: Long = 1L << 16,
    partitions: Int = 32,
    // dict rows under this → broadcast hash join into postings build
    dictBroadcastThreshold: Long = 2000000L)

final case class IndexStats(n: Long, avgdl: Double)

/** Resumable inverted-index build (north rule): pages → docs → tfrows → dict
  * → stats → postings, each step an immutable Parquet table committed to the
  * [[IceTable]] snapshot log with per-partition lineage + metrics. A rerun
  * skips every committed step (kill-and-rerun converges to the same index).
  *
  * Scale notes (designed for 10^12 docs / 1000 executors, tested at
  * local[32]):
  *  - tf is computed PER ROW by `krep_term_freqs` (one custom expression),
  *    so the only wide exchange moves one row per (doc, distinct term), not
  *    one per token.
  *  - hot-term skew ("the" at 10^12 docs) is defused by hash-partitioning
  *    postings on (termId, docId segment): a hot term's postings split
  *    across segments, each partition bounded, and blocks never span a
  *    segment, so per-term blocks stay globally mergeable sorted runs — no
  *    salt bookkeeping, no sampling pass, no merge pass.
  *  - the postings files are written sorted by (termId, docId), so a query
  *    for a handful of terms prunes row groups via parquet min/max on termId.
  */
final class IndexBuilder(spark: SparkSession, root: String,
    cfg: IndexConfig = IndexConfig()) {

  import spark.implicits._
  import IndexBuilder._

  val ice = new IceTable(root, spark.sparkContext.hadoopConfiguration)

  private def write(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(ice.tablePath(table))

  /** Runs the build; skips steps already committed in the current snapshot.
    * Returns the names of the steps that actually executed this run.
    * `failAfter` injects a crash after committing the named step (resume
    * tests).
    */
  def build(pages: Dataset[Page], failAfter: Option[String] = None): Seq[String] = {
    val done = ice.completedSteps.keySet
    val ran = Seq.newBuilder[String]

    // `metrics` receives the step's committed row count
    def step(name: String, metrics: Long => Map[String, String] = _ => Map.empty)
        (body: => Unit): Unit = {
      if (!done.contains(name)) {
        val t0 = System.nanoTime()
        body
        val secs = (System.nanoTime() - t0) / 1e9
        val lineage = ice.parquetLineage(name)
        val rows = lineage.map(_._2).sum
        ice.commitStep(StepInfo(name, ice.tablePath(name), rows, lineage,
          metrics(rows) + ("elapsedSec" -> f"$secs%.3f")))
        ran += name
        if (failAfter.contains(name))
          throw new RuntimeException(s"injected failure after step $name")
      }
    }

    // canonical snapshot of the input with dense docIds assigned — one
    // range-shuffle on url, read by every later step (no re-tokenize of the
    // raw input, no url joins downstream)
    step("corpus", _ => Map("orderedBy" -> "url")) {
      write(corpusRows(Ranker.denseIdsByKey(
        pages.select($"url", $"text"), "url", "docId", cfg.partitions)),
        "corpus")
    }

    step("docs") {
      write(docRows(ice.readTable(spark, "corpus")), "docs")
    }

    step("stats", _ => {
      val s = loadStats()
      Map("n" -> s.n.toString, "avgdl" -> s.avgdl.toString)
    }) {
      write(statsRow(ice.readTable(spark, "docs")), "stats")
    }

    step("tfrows") {
      write(tfRows(ice.readTable(spark, "corpus")), "tfrows")
    }

    // termIds are dense from 0, so the next free id is the row count
    step("dict", rows => Map("orderedBy" -> "term",
        NextTermId -> rows.toString)) {
      // persisted because the ranker's range partitioner SAMPLES its input
      // before shuffling it: without the persist the sample pass re-executes
      // the whole tfrows scan + aggregation a second time (measured ~40% of
      // the step at 50k docs)
      val grouped = termCounts(ice.readTable(spark, "tfrows"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try write(Ranker.denseIdsByKey(grouped, "term", "termId", cfg.partitions)
        .select($"termId", $"term", $"df", $"cf"), "dict")
      finally grouped.unpersist(false)
    }

    step("postings", _ => Map(
      "blockSize" -> cfg.blockSize.toString,
      "docsPerSegment" -> cfg.docsPerSegment.toString)) {
      // dict row count comes from the committed dict lineage — no extra job
      writePostings(ice.readTable(spark, "tfrows"),
        ice.readTable(spark, "dict").select($"termId", $"term"),
        ice.completedSteps("dict").rowCount, ice.readTable(spark, "docs"),
        ice.tablePath("postings"),
        ice.scratchPath(s"dl-${java.util.UUID.randomUUID().toString.take(8)}"),
        cfg)
    }

    ran.result()
  }

  def loadStats(): IndexStats = {
    // builder-internal: reads the stats table THIS build just wrote, before
    // its commit — a snapshot-isolated read would not see it yet
    val r = GraftParquet.read(spark, ice.tablePath("stats")).head()
    IndexStats(r.getLong(0), r.getDouble(1))
  }
}

object IndexBuilder {
  /** Dict step metric: the next unassigned termId (max termId + 1). Appends
    * assign new terms from it; it survives [[IndexCompactor.compactDictionary]],
    * which shrinks the row count but keeps the ids.
    */
  val NextTermId = "nextTermId"

  // --- step expressions shared by the batch build, the empty bootstrap and
  // --- the streaming append

  /** corpus row: (docId, url, dl, text) from rows carrying docId, url, text. */
  def corpusRows(withIds: DataFrame): DataFrame =
    withIds.select(col("docId"), col("url"),
      K.krep_token_count(col("text")).as("dl"), col("text"))

  /** docs row: (docId, url, dl). */
  def docRows(corpus: DataFrame): DataFrame =
    corpus.select(col("docId"), col("url"), col("dl"))

  /** tfrows row: (docId, term, tf, posv). Positions leave the tokenizer
    * already delta-varint packed (posv BINARY): the widest column of the
    * widest table — and of the postings exchange downstream — is a compact
    * strip instead of an ARRAY<INT>, and block encoding later concatenates
    * strips without re-coding.
    */
  def tfRows(corpus: DataFrame): DataFrame =
    corpus.select(col("docId"),
        explode(K.krep_term_positions_packed(col("text"))).as("t"))
      .select(col("docId"), col("t.term").as("term"), col("t.tf").as("tf"),
        col("t.posv").as("posv"))

  /** stats row: (n, avgdl) over a `dl` column. */
  def statsRow(dls: DataFrame): DataFrame =
    dls.agg(count(lit(1)).as("n"), coalesce(avg(col("dl")), lit(0.0)).as("avgdl"))

  /** Per-term counts (term, df, cf) of tfrows. */
  def termCounts(tfrows: DataFrame): DataFrame =
    tfrows.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))

  /** The one write path of fresh postings (batch build and streaming
    * append): write `docs`' (docId, dl) into a per-segment sidecar under
    * `scratch`, encode `tfrows` ⋈ `dict` into blocks at `out`, delete the
    * sidecar. `dictRows` gates the broadcast of `dict`.
    */
  def writePostings(tfrows: DataFrame, dict: DataFrame, dictRows: Long,
      docs: DataFrame, out: String, scratch: String, cfg: IndexConfig): Unit = {
    val conf = new SerializableConfiguration(
      docs.sparkSession.sparkContext.hadoopConfiguration)
    writeDlSidecar(docs, scratch, cfg, conf)
    try postingBlocks(tfrows, dict, dictRows, scratch, cfg, conf).toDF()
      .write.mode(SaveMode.Overwrite).parquet(out)
    finally new Path(scratch).getFileSystem(conf.value)
      .delete(new Path(scratch), true)
  }

  /** Blocks of `tfrows` ⋈ `dict`, dl read from the sidecar at `dlDir`.
    *
    * The one wide exchange moves (termId, docId, posv) — the minimum that
    * determines the blocks: tf re-derives from the strip's varint count
    * (one varint per position by construction — [[BlockCodec.packPositions]])
    * and dl from the sidecar, read by the encoder's own partition. It
    * hash-partitions on (termId, segment): skew-proof by construction — a
    * hot term's postings split across segments, each partition bounded by
    * (terms-per-segment × docsPerSegment) — and, unlike repartitionByRange,
    * needs no sampling pass over the joined input. Byte-identical blocks to
    * [[encodeBlocks]] over the dl-carrying rows (SlimExchangeSpec).
    */
  private[graft] def postingBlocks(tfrows: DataFrame, dict: DataFrame,
      dictRows: Long, dlDir: String, cfg: IndexConfig,
      conf: SerializableConfiguration): Dataset[PosPostingBlock] = {
    import tfrows.sparkSession.implicits._
    val dictJ = if (dictRows <= cfg.dictBroadcastThreshold) broadcast(dict) else dict
    val dps = cfg.docsPerSegment
    val blockSize = cfg.blockSize
    tfrows.join(dictJ, "term")
      .select($"termId", $"docId", $"posv")
      .as[(Long, Long, Array[Byte])]
      .repartition(cfg.partitions, $"termId", floor($"docId" / dps))
      .sortWithinPartitions($"termId", $"docId")
      .mapPartitions { it =>
        val reader = new DlSegReader(dlDir, dps, conf.value)
        blockIterator(it.map { case (termId, docId, posv) =>
          (termId, docId, BlockCodec.countVarints(posv), reader.dl(docId), posv)
        }, blockSize, dps)
      }
  }

  /** Encode (termId, docId, tf, dl, packedPositions) rows — sorted by
    * (termId, docId) within partitions, blocks never spanning a docId
    * segment — into compressed posting blocks. Position strips arrive
    * already packed ([[BlockCodec.packPositions]]); a block's `poss` is
    * their concatenation, byte-identical to encoding the int lists. The
    * compaction encoder, whose rows decode from committed blocks.
    */
  def encodeBlocks(rows: Dataset[(Long, Long, Int, Int, Array[Byte])],
      blockSize: Int, docsPerSegment: Long): Dataset[PosPostingBlock] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions(it => blockIterator(it, blockSize, docsPerSegment))
  }

  /** Write the per-segment dl sidecar: one `seg-<segId>.bin` per docId
    * segment, 4-byte big-endian dl values indexed by (docId − seg·dps).
    * Slots of docIds not in `docs` (an append starting mid-segment) stay 0
    * and are never read. Hash-partitioned by segment so each task owns
    * whole segments; task retries rewrite the same deterministic bytes
    * (create-overwrite), so speculative execution is safe.
    */
  private def writeDlSidecar(docs: DataFrame, dir: String, cfg: IndexConfig,
      conf: SerializableConfiguration): Unit = {
    import docs.sparkSession.implicits._
    val dps = cfg.docsPerSegment
    docs.select($"docId", $"dl".cast("int"))
      .repartition(cfg.partitions, floor($"docId" / dps))
      .as[(Long, Int)]
      .foreachPartition { (it: Iterator[(Long, Int)]) =>
        val bySeg = scala.collection.mutable.HashMap
          .empty[Long, scala.collection.mutable.ArrayBuffer[(Int, Int)]]
        it.foreach { case (docId, dl) =>
          val seg = docId / dps
          bySeg.getOrElseUpdate(seg,
            scala.collection.mutable.ArrayBuffer.empty) +=
            (((docId - seg * dps).toInt, dl))
        }
        val fs = new Path(dir).getFileSystem(conf.value)
        bySeg.foreach { case (seg, offs) =>
          val size = offs.iterator.map(_._1).max + 1
          val bytes = java.nio.ByteBuffer.allocate(4 * size)
          offs.foreach { case (off, dl) => bytes.putInt(4 * off, dl) }
          val out = fs.create(new Path(dir, s"seg-$seg.bin"), true)
          try out.write(bytes.array()) finally out.close()
        }
      }
  }

  /** Per-task lazy reader of the dl sidecar: caches up to `cacheSegs`
    * decoded segments (rows within a partition are (termId, docId)-sorted,
    * so each term's walk revisits the partition's segments in order — a
    * small cache makes re-reads rare).
    */
  private final class DlSegReader(dir: String, docsPerSegment: Long,
      conf: Configuration, cacheSegs: Int = 8) {
    private val cache = new java.util.LinkedHashMap[Long, Array[Int]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Array[Int]]): Boolean =
        size() > cacheSegs
    }
    private lazy val fs = new Path(dir).getFileSystem(conf)
    def dl(docId: Long): Int = {
      val seg = docId / docsPerSegment
      var arr = cache.get(seg)
      if (arr == null) {
        val p = new Path(dir, s"seg-$seg.bin")
        val len = fs.getFileStatus(p).getLen.toInt
        val bytes = new Array[Byte](len)
        val in = fs.open(p)
        try in.readFully(0L, bytes) finally in.close()
        val bb = java.nio.ByteBuffer.wrap(bytes)
        arr = new Array[Int](len / 4)
        var i = 0
        while (i < arr.length) { arr(i) = bb.getInt(); i += 1 }
        cache.put(seg, arr)
      }
      arr((docId - seg * docsPerSegment).toInt)
    }
  }

  private def blockIterator(it: Iterator[(Long, Long, Int, Int, Array[Byte])],
      blockSize: Int, docsPerSegment: Long): Iterator[PosPostingBlock] = {
      new Iterator[PosPostingBlock] {
        private var pending: PosPostingBlock = _
        private val bufDoc = new Array[Long](blockSize)
        private val bufTf = new Array[Int](blockSize)
        private val bufDl = new Array[Int](blockSize)
        private val bufPos = new Array[Array[Byte]](blockSize)
        private var len = 0
        private var curTerm = -1L
        private var curSeg = -1L

        private def flush(): PosPostingBlock = {
          var maxTf = 0
          var minDl = Int.MaxValue
          var posBytes = 0
          var i = 0
          while (i < len) {
            if (bufTf(i) > maxTf) maxTf = bufTf(i)
            if (bufDl(i) < minDl) minDl = bufDl(i)
            posBytes += bufPos(i).length
            i += 1
          }
          val poss = new Array[Byte](posBytes)
          var off = 0
          i = 0
          while (i < len) {
            System.arraycopy(bufPos(i), 0, poss, off, bufPos(i).length)
            off += bufPos(i).length
            i += 1
          }
          val b = PosPostingBlock(curTerm, curSeg, bufDoc(0), bufDoc(len - 1),
            len, maxTf, minDl,
            BlockCodec.encodeDeltaLongs(java.util.Arrays.copyOf(bufDoc, len)),
            BlockCodec.encodeInts(java.util.Arrays.copyOf(bufTf, len)),
            BlockCodec.encodeInts(java.util.Arrays.copyOf(bufDl, len)),
            poss)
          len = 0
          b
        }

        private def fill(): Unit = {
          while (pending == null && it.hasNext) {
            val (termId, docId, tf, dl, pos) = it.next()
            val seg = docId / docsPerSegment
            if (len > 0 && (termId != curTerm || seg != curSeg || len == blockSize))
              pending = flush()
            curTerm = termId; curSeg = seg
            bufDoc(len) = docId; bufTf(len) = tf; bufDl(len) = dl
            bufPos(len) = pos
            len += 1
          }
          if (pending == null && len > 0) pending = flush()
        }

        override def hasNext: Boolean = { fill(); pending != null }
        override def next(): PosPostingBlock = {
          fill()
          val b = pending; pending = null; b
        }
      }
  }
}
