package graft.index

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet

/** One committed build step: table location + per-partition lineage (the
  * parquet files a step produced, with per-file row counts read back from the
  * footers — file ↔ task partition) + free-form metrics.
  */
final case class StepInfo(
    name: String,
    table: String,
    rowCount: Long,
    files: Seq[(String, Long)], // (fileName, rows) — per-partition lineage
    metrics: Map[String, String])

/** Minimal Iceberg-style table layer (SURVEY.md §7.0): immutable Parquet data
  * files + a JSON snapshot log with a last-wins pointer swapped by atomic
  * rename. No Iceberg jar ships in this environment; this layer preserves the
  * properties the north rule tests — resumable builds, per-partition lineage
  * and metrics committed atomically alongside snapshots.
  *
  * Layout under `root/`:
  * {{{
  *   data/<table>/part-*.parquet     immutable data files (Spark-written)
  *   snapshots/snapshot-<id>.json    full step map, parent-linked
  *   LATEST                          current snapshot id (atomic rename)
  * }}}
  *
  * Uses the Hadoop FileSystem API throughout, so the same code runs on local
  * fs here and HDFS/S3A on a real cluster.
  *
  * MANIFEST SHARDING (the Iceberg manifest-list discipline): each step's
  * file list is stored in a content-addressed side file
  * (`manifests/manifest-<sha256>.json`), and the snapshot document
  * references it by hash — so a commit writes only the side files of tables
  * whose lists actually CHANGED (an unchanged table's hash already exists),
  * and the snapshot document itself stays O(#tables) regardless of file
  * count. At 100 TB a postings table is O(10^5-10^6) files; without
  * sharding every commit rewrote and every reader parsed a hundreds-of-MB
  * JSON. Readers resolve refs through a process-wide content-addressed
  * cache (immutable by construction). Manifest side files referenced
  * by NO snapshot (crashed commits) are cleaned by [[expireSnapshots]] only
  * when an expired snapshot referenced them and no survivor does — an
  * in-flight commit's freshly written manifest (referenced by nothing yet)
  * is never touched.
  */
final class IceTable(val root: String, conf: Configuration) {

  private val mapper = new ObjectMapper()
  private def fs: FileSystem = new Path(root).getFileSystem(conf)
  import IceTable.manifestCache

  def tablePath(name: String): String = s"$root/data/$name"

  /** Working directory of one build or batch, outside every table. */
  def scratchPath(name: String): String = s"$root/scratch/$name"

  // --- snapshot log ---------------------------------------------------------

  /** Raw contents of the LATEST pointer file, if present and parsable. */
  private def latestPointer: Option[Long] = {
    val p = new Path(root, "LATEST")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  /** Ids in the immutable snapshot log, ascending. */
  private def logIds: Seq[Long] = {
    val dir = new Path(root, "snapshots")
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("snapshot-") && s.endsWith(".json") =>
        s.stripPrefix("snapshot-").stripSuffix(".json").toLong
      }.sorted
  }

  /** Max id present in the immutable snapshot log. */
  private def logMaxId: Option[Long] = logIds.lastOption

  /** Current snapshot = max(LATEST pointer, snapshot-log max). Resolution is
    * robust on the READER side instead of trusting the pointer: the pointer
    * swap (delete+rename on local fs) is not atomic across processes, so a
    * slow committer can briefly install an OLDER id over a newer one, and a
    * committer that crashes between snapshot create and pointer swap leaves
    * the pointer lagging. In both windows the log scan restores the true
    * head — the same id the next commit would resolve as its parent (commit
    * parent resolution has always unioned the log), so readers and
    * committers agree on the head at all times.
    */
  def currentSnapshotId: Option[Long] =
    (latestPointer.toSeq ++ logMaxId).maxOption

  /** Steps recorded in the current snapshot, in commit order. */
  def completedSteps: ListMap[String, StepInfo] = currentSnapshotId match {
    case None => ListMap.empty
    case Some(id) => stepsAt(id)
  }

  /** Steps of an EXPLICIT snapshot id — time travel: every snapshot is
    * self-contained, so any unexpired id reproduces its exact table state.
    */
  def stepsAt(id: Long): ListMap[String, StepInfo] = {
    val p = new Path(root, s"snapshots/snapshot-$id.json")
    val in = fs.open(p)
    val node = try mapper.readTree(in) finally in.close()
    var out = ListMap.empty[String, StepInfo]
    node.get("steps").forEach { s =>
      val metrics = ListMap.newBuilder[String, String]
      val it = s.get("metrics").fields()
      while (it.hasNext) { val e = it.next(); metrics += (e.getKey -> e.getValue.asText()) }
      val info = StepInfo(s.get("name").asText(), s.get("table").asText(),
        s.get("rowCount").asLong(), stepFiles(s), metrics.result())
      out = out + (info.name -> info)
    }
    out
  }

  /** File list of one snapshot step node (`filesRef` → manifest side file,
    * content-addressed cache).
    */
  private def stepFiles(s: JsonNode): Seq[(String, Long)] =
    readManifest(s.get("filesRef").asText())

  private def manifestPath(hash: String): Path =
    new Path(root, s"manifests/manifest-$hash.json")

  private def readManifest(hash: String): Seq[(String, Long)] =
    IceTable.manifestCache.computeIfAbsent((root, hash), _ => {
      val in = fs.open(manifestPath(hash))
      val node = try mapper.readTree(in) finally in.close()
      val files = Vector.newBuilder[(String, Long)]
      node.forEach(f =>
        files += ((f.get("name").asText(), f.get("rows").asLong())))
      files.result()
    })

  /** Serialize a step's file list canonically, content-address it by
    * SHA-256, and write the manifest side file if this content has never
    * been written — an UNCHANGED table's list hashes to an existing file,
    * so a commit writes exactly the manifests of tables it touched. Racing
    * writers of the same hash write identical bytes, so the loser's failed
    * rename is ignored.
    */
  private def ensureManifest(files: Seq[(String, Long)]): String = {
    val arr = mapper.createArrayNode()
    files.foreach { case (f, r) =>
      val fn = arr.addObject(); fn.put("name", f); fn.put("rows", r)
    }
    val bytes = mapper.writeValueAsBytes(arr)
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).map(b => f"$b%02x").mkString
    val p = manifestPath(hash)
    if (!fs.exists(p)) {
      fs.mkdirs(p.getParent)
      val tmp = new Path(p.getParent,
        p.getName + ".tmp-" + java.util.UUID.randomUUID())
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      if (!fs.rename(tmp, p)) fs.delete(tmp, false) // identical content won
    }
    IceTable.manifestCache.putIfAbsent((root, hash), files.toVector)
    hash
  }

  /** Time-travel read: the table exactly as snapshot `id` committed it. */
  def readTableAt(spark: org.apache.spark.sql.SparkSession, name: String,
      id: Long): org.apache.spark.sql.DataFrame =
    readSteps(spark, stepsAt(id), name)

  /** Absolute data-file paths of `table` as committed in the current
    * snapshot — the ONLY files a reader may see. Files written by an
    * in-flight (or crashed) append live in the same table directory but are
    * invisible until a snapshot lists them.
    */
  def snapshotFiles(table: String): Seq[String] =
    completedSteps.get(table).toSeq
      .flatMap(s => s.files.map { case (name, _) => s"${s.table}/$name" })

  /** Snapshot-isolated read of a committed table: loads exactly the file
    * list the current snapshot recorded (never a live directory listing),
    * with the schema read from the first file's footer on the driver
    * ([[GraftParquet.read]]), so resolving the table starts no Spark job. A
    * committed-but-empty table lists no file: the empty schema-carrier file
    * at the top of its directory supplies the schema, the same way.
    */
  def readTable(spark: org.apache.spark.sql.SparkSession, name: String)
      : org.apache.spark.sql.DataFrame = readSteps(spark, completedSteps, name)

  /** Same read rule against an EXPLICIT step map — how a reader pins one
    * snapshot captured earlier (e.g. [[graft.query.QueryEngine]]) instead of
    * re-resolving LATEST per call.
    */
  def readSteps(spark: org.apache.spark.sql.SparkSession,
      steps: scala.collection.Map[String, StepInfo], name: String)
      : org.apache.spark.sql.DataFrame = {
    val s = steps(name)
    val files = s.files.map { case (f, _) => s"${s.table}/$f" }
    if (files.nonEmpty) GraftParquet.read(spark, files: _*)
    // committed-but-empty table: the directory supplies only the SCHEMA —
    // limit(0) guarantees orphan files from a crashed append contribute no
    // rows (the committed content is empty by definition)
    else GraftParquet.read(spark, s.table).limit(0)
  }

  /** Commit a step: new snapshot = parent steps ± this step, written to the
    * log, then the LATEST pointer swapped via atomic rename. Readers see
    * either the old or the new snapshot, never a partial one.
    */
  def commitStep(step: StepInfo): Long = commitSteps(Seq(step))

  /** Commit several steps in ONE atomic snapshot — the streaming appender's
    * unit of visibility: either every table reflects the batch or none does.
    */
  def commitSteps(newSteps: Seq[StepInfo]): Long =
    commitAtomically(_ => newSteps)

  /** Optimistic (compare-and-swap) commit — the Iceberg discipline that
    * makes concurrent maintenance safe: `make` receives the CURRENT step
    * map and returns the steps to add/replace; the new snapshot file is
    * created with overwrite=false, so of two racing committers exactly one
    * wins the id and the loser RETRIES `make` against the winner's state
    * instead of silently resurrecting stale file lists (the lost-update a
    * last-wins commit would produce when an append races a compaction).
    * Parent resolution unions the LATEST pointer with the log scan, so a
    * winner that crashed (or is still mid-swap) between snapshot create and
    * pointer swap cannot make the retry loop spin on a stale parent.
    */
  def commitAtomically(make: ListMap[String, StepInfo] => Seq[StepInfo],
      maxRetries: Int = 50): Long = {
    fs.mkdirs(new Path(root, "snapshots"))
    var attempt = 0
    while (true) {
      // currentSnapshotId already unions the LATEST pointer with the log
      // scan, so a winner that crashed (or is mid-swap) between snapshot
      // create and pointer swap cannot make this loop spin on a stale parent
      val parent: Option[Long] = currentSnapshotId
      // a concurrent expireSnapshots may delete the parent id between
      // resolution and read — count it as a lost race and re-resolve
      val base: Option[ListMap[String, StepInfo]] =
        try Some(parent.map(stepsAt).getOrElse(ListMap.empty))
        catch { case _: java.io.FileNotFoundException => None }
      base match {
        case Some(b) =>
          val newId = parent.getOrElse(-1L) + 1L
          val steps = make(b).foldLeft(b)((m, s) => m + (s.name -> s))

          val rootNode: ObjectNode = mapper.createObjectNode()
          rootNode.put("snapshotId", newId)
          parent.foreach(p => rootNode.put("parent", p))
          val arr = rootNode.putArray("steps")
          steps.values.foreach { s =>
            val n = arr.addObject()
            n.put("name", s.name)
            n.put("table", s.table)
            n.put("rowCount", s.rowCount)
            // sharded manifests: the snapshot document carries one hash per
            // table; only changed lists produce new side files
            n.put("filesRef", ensureManifest(s.files))
            val m = n.putObject("metrics")
            s.metrics.foreach { case (k, v) => m.put(k, v) }
          }

          val snapPath = new Path(root, s"snapshots/snapshot-$newId.json")
          val created = createExclusive(snapPath,
            mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(rootNode))
          if (created) {
            advanceLatest(newId)
            return newId
          }
        case None => // parent expired under us — retry
      }
      attempt += 1
      if (attempt > maxRetries)
        throw new IllegalStateException(
          s"commit lost $maxRetries consecutive races under $root")
    }
    -1L // unreachable
  }

  /** Exclusive create-with-content — the CAS primitive under
    * [[commitAtomically]]. Both branches write the FULL content to a unique
    * sibling first and only then claim the target name atomically, so a
    * writer that dies mid-write can never leave a truncated snapshot file
    * under the claimed name (a corrupt max-id file would wedge every later
    * reader and committer). Local fs: claim via hard link (`link(2)` fails
    * atomically if the target exists — `FileSystem.create(path, false)` on
    * the local implementations is a non-atomic exists-check-then-create).
    * HDFS-style filesystems: claim via `rename`, which does not overwrite an
    * existing target; a false return or IOException means the CAS was lost
    * (or failed safely — the target name was never touched).
    */
  private def createExclusive(path: Path, bytes: Array[Byte]): Boolean = {
    val scheme = Option(path.toUri.getScheme)
      .orElse(Option(fs.getUri.getScheme))
    if (scheme.forall(_ == "file")) {
      val p = java.nio.file.Paths.get(
        new Path(fs.makeQualified(path).toUri.getPath).toString)
      val tmp = p.resolveSibling(
        p.getFileName.toString + ".claim-" + java.util.UUID.randomUUID())
      java.nio.file.Files.write(tmp, bytes)
      try { java.nio.file.Files.createLink(p, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val tmp = new Path(path.getParent,
        path.getName + ".claim-" + java.util.UUID.randomUUID())
      try {
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        // HDFS rename is atomic and fails (returns false) when the target
        // exists — a crash before this line leaves only the .claim sibling
        fs.rename(tmp, path)
      } catch { case _: java.io.IOException => false }
      finally { try fs.delete(tmp, false) catch { case _: java.io.IOException => () } }
    }
  }

  /** Move the LATEST pointer forward to `newId` unless a later committer
    * already advanced it past us (pointer monotonicity; the log scan covers
    * any window where the pointer lags the snapshot files).
    */
  private def advanceLatest(newId: Long): Unit = synchronized {
    val latest = new Path(root, "LATEST")
    val cur = currentSnapshotId
    if (cur.exists(_ >= newId)) return
    val tmp = new Path(root, s"LATEST.tmp-$newId")
    val t = fs.create(tmp, true)
    try t.write(newId.toString.getBytes("UTF-8")) finally t.close()
    if (fs.exists(latest)) fs.delete(latest, false)
    if (!fs.rename(tmp, latest)) {
      // a concurrent swap won the rename; the log-scan fallback keeps
      // readers correct, and the next commit re-advances the pointer
      fs.delete(tmp, false)
    }
  }

  /** Offline maintenance: delete data files of `table` that NO snapshot in
    * the log references — the orphans left behind by crashed appends — and
    * everything under `<root>/scratch/`, where a build or append killed
    * inside `writePostings` leaves its doc-length sidecar. Safe with
    * concurrent readers (they only resolve committed manifests) but NOT
    * with a concurrent in-flight build or append (its files are
    * unreferenced until it commits, and its sidecar is live until it
    * finishes) — run it between batches, like Iceberg's remove-orphan-files.
    * Returns the deleted paths.
    */
  def vacuum(table: String): Seq[String] = {
    val scratch = new Path(root, "scratch")
    val deadScratch = if (!fs.exists(scratch)) Nil
      else fs.listStatus(scratch).toSeq.map { st =>
        fs.delete(st.getPath, true)
        scratchPath(st.getPath.getName)
      }
    val dir = new Path(tablePath(table))
    if (!fs.exists(dir)) return deadScratch
    // union of the table's file lists across EVERY snapshot (old snapshots
    // stay queryable until their log entries are expired)
    var committed = false // any snapshot has a step for this table at all
    val referenced: Set[String] = {
      val snapDir = new Path(root, "snapshots")
      if (!fs.exists(snapDir)) Set.empty
      else fs.listStatus(snapDir).toSeq
        // only committed snapshot files: .claim-* siblings of an in-flight
        // or crashed CAS are not part of the log (and may be mid-write)
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith("snapshot-") && n.endsWith(".json")
        }
        .flatMap { st =>
          val in = fs.open(st.getPath)
          val node = try mapper.readTree(in) finally in.close()
          val files = Vector.newBuilder[String]
          node.get("steps").forEach { s =>
            if (s.get("name").asText() == table) {
              committed = true
              stepFiles(s).foreach { case (name, _) => files += name }
            }
          }
          files.result()
        }.toSet
    }
    def walk(p: Path, rel: String): Seq[(Path, String)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val r = if (rel.isEmpty) st.getPath.getName else s"$rel/${st.getPath.getName}"
        if (st.isDirectory) walk(st.getPath, r) else Seq((st.getPath, r))
      }
    val dataFiles = walk(dir, "").filter(_._2.endsWith(".parquet"))
    // committed-but-EMPTY table (a snapshot step exists but lists zero
    // files): keep one parquet as the schema carrier — readSteps'
    // empty-table fallback infers the schema from the directory footer and
    // reads it with limit(0), so the kept rows can never leak. A table with
    // NO snapshot step at all (e.g. orphans of a crashed never-committed
    // first append) keeps nothing: every file is garbage
    val keep: Set[String] =
      if (committed && referenced.isEmpty)
        dataFiles.map(_._2).sorted.headOption.toSet
      else Set.empty
    val deleted = dataFiles.collect {
      case (path, rel) if !referenced(rel) && !keep(rel) =>
        fs.delete(path, false)
        s"${tablePath(table)}/$rel"
    }
    // drop batch subdirectories that no longer hold any parquet data —
    // Spark leaves _SUCCESS/.crc sidecars behind, so "empty" means
    // "no data files", not "no files"
    fs.listStatus(dir).foreach { st =>
      if (st.isDirectory &&
          !walk(st.getPath, "").exists(_._2.endsWith(".parquet")))
        fs.delete(st.getPath, true)
    }
    deadScratch ++ deleted
  }

  /** Expire old snapshot log entries: keep the newest `keepLast` (>= 1)
    * snapshot files, delete the rest — standard Iceberg expire-snapshots
    * semantics. Snapshots are self-contained (each carries the full step
    * map), so surviving ones stay readable; engines pinned to an expired id
    * keep working off their captured step map but can no longer re-resolve
    * it from the log. Expiry is what makes maintenance reclaim real space:
    * [[vacuum]] keeps every file referenced by ANY surviving snapshot, so
    * pre-compaction files become reclaimable only once the snapshots that
    * listed them are expired. Returns the expired ids.
    */
  def expireSnapshots(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val dir = new Path(root, "snapshots")
    val ids = logIds
    // never delete the id the LATEST pointer references (or anything newer):
    // if the pointer lags or briefly regressed, expiring its target would
    // break completedSteps for every reader that resolves the pointer
    val floor = latestPointer.orElse(logMaxId).getOrElse(Long.MinValue)
    val drop = ids.dropRight(keepLast).filter(_ < floor)
    if (drop.isEmpty) return Nil
    // manifest GC, conservative: only side files an EXPIRED snapshot
    // referenced and no SURVIVOR references may go — a manifest referenced
    // by nothing (an in-flight commit between manifest write and snapshot
    // CAS) is never touched. Survivors are listed AFTER the deletes, so a
    // snapshot committed while they ran keeps the manifests it shares with
    // a dropped one
    def refsOf(id: Long): Set[String] = {
      val p = new Path(dir, s"snapshot-$id.json")
      if (!fs.exists(p)) Set.empty
      else {
        val in = fs.open(p)
        val node = try mapper.readTree(in) finally in.close()
        val refs = Set.newBuilder[String]
        node.get("steps").forEach(s => refs += s.get("filesRef").asText())
        refs.result()
      }
    }
    val droppedRefs = drop.flatMap(refsOf).toSet
    drop.foreach(id => fs.delete(new Path(dir, s"snapshot-$id.json"), false))
    val survivorRefs = logIds.flatMap(refsOf).toSet
    (droppedRefs -- survivorRefs).foreach { h =>
      fs.delete(manifestPath(h), false)
      IceTable.manifestCache.remove((root, h))
    }
    drop
  }

  /** Per-file row counts from parquet footers — the per-partition lineage
    * recorded at commit time (derived from the committed artifacts, so it is
    * correct even across resumed builds). Footer opens run on a small
    * thread pool: every step commit of every build pays this walk, and the
    * serial version cost ~1 s per build at 32 files/step × 6 steps.
    */
  def parquetLineage(table: String): Seq[(String, Long)] =
    footerCounts(new Path(tablePath(table)), name => name)

  /** Lineage of the files inside `tablePath(table)/subdir`, names relative to
    * the table path ("subdir/part-*.parquet") — how a streaming batch records
    * exactly the immutable files it just wrote, never the whole directory
    * (which may hold orphans from a crashed earlier attempt).
    */
  def parquetLineageIn(table: String, subdir: String): Seq[(String, Long)] =
    footerCounts(new Path(tablePath(table), subdir), name => s"$subdir/$name")

  private[index] def manifestCount: Int = {
    val dir = new Path(root, "manifests")
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).count(_.getPath.getName.startsWith("manifest-"))
  }

  private def footerCounts(dir: Path,
      rel: String => String): Seq[(String, Long)] = {
    val files = fs.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    if (files.isEmpty) return Nil
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, files.size))
    try files
      .map { s =>
        pool.submit(new java.util.concurrent.Callable[(String, Long)] {
          def call(): (String, Long) = {
            val r = ParquetFileReader.open(
              HadoopInputFile.fromPath(s.getPath, conf))
            try (rel(s.getPath.getName), r.getRecordCount)
            finally r.close()
          }
        })
      }
      .map(_.get())
    finally pool.shutdown()
  }
}

object IceTable {
  /** Process-wide content-addressed manifest cache: manifest side files are
    * immutable by construction (named by the SHA-256 of their content), so
    * a hash read once never needs re-reading — across every IceTable
    * instance of the process (engines construct them freely).
    */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[(String, Long)]]
}
