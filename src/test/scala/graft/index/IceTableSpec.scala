package graft.index

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** Local files under the `racefs` scheme. The first delete of a snapshot
  * file after [[RaceFileSystem.onSnapshotDelete]] is set runs it first: a
  * commit that lands while `expireSnapshots` deletes.
  */
class RaceFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("racefs:///")
  override def getScheme: String = "racefs"
  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (p.getName.matches("snapshot-[0-9]+\\.json")) {
      val hook = RaceFileSystem.onSnapshotDelete.getAndSet(null)
      if (hook != null) hook()
    }
    super.delete(p, recursive)
  }
}

object RaceFileSystem {
  val onSnapshotDelete = new AtomicReference[() => Unit]
}

class IceTableSpec extends AnyFunSuite {

  private def table(): IceTable =
    new IceTable(Files.createTempDirectory("ice-").toString, new Configuration())

  test("commits chain snapshots and accumulate steps in order") {
    val ice = table()
    assert(ice.currentSnapshotId.isEmpty)
    ice.commitStep(StepInfo("a", "pa", 10, Seq(("f1", 10)), Map("k" -> "v")))
    ice.commitStep(StepInfo("b", "pb", 20, Seq(("f2", 20)), Map.empty))
    assert(ice.currentSnapshotId.contains(1L))
    val steps = ice.completedSteps
    assert(steps.keySet == Set("a", "b"))
    assert(steps.keys.toSeq == Seq("a", "b")) // commit order preserved
    assert(steps("a").rowCount == 10 && steps("a").metrics("k") == "v")
    assert(steps("b").files == Seq(("f2", 20L)))
  }

  test("replacing a step keeps the others and bumps the snapshot") {
    val ice = table()
    ice.commitStep(StepInfo("a", "pa", 1, Nil, Map.empty))
    ice.commitStep(StepInfo("a", "pa2", 2, Nil, Map.empty))
    assert(ice.currentSnapshotId.contains(1L))
    assert(ice.completedSteps("a").table == "pa2")
  }

  test("commitSteps publishes several steps in ONE snapshot") {
    val ice = table()
    ice.commitStep(StepInfo("a", "pa", 1, Seq(("f1", 1)), Map.empty))
    ice.commitSteps(Seq(
      StepInfo("a", "pa", 3, Seq(("f1", 1), ("f2", 2)), Map.empty),
      StepInfo("b", "pb", 5, Seq(("g1", 5)), Map.empty)))
    assert(ice.currentSnapshotId.contains(1L), "one snapshot for the batch")
    assert(ice.completedSteps("a").rowCount == 3)
    assert(ice.completedSteps("b").rowCount == 5)
    assert(ice.snapshotFiles("a") == Seq("pa/f1", "pa/f2"))
  }

  test("lost LATEST pointer is recovered from the snapshot log") {
    val ice = table()
    ice.commitStep(StepInfo("a", "pa", 1, Nil, Map.empty))
    ice.commitStep(StepInfo("b", "pb", 2, Nil, Map.empty))
    // simulate a crash inside the delete+rename pointer swap
    new java.io.File(ice.root, "LATEST").delete()
    assert(ice.currentSnapshotId.contains(1L))
    assert(ice.completedSteps.keySet == Set("a", "b"))
    // and the next commit proceeds normally
    ice.commitStep(StepInfo("c", "pc", 3, Nil, Map.empty))
    assert(ice.currentSnapshotId.contains(2L))
  }

  test("concurrent optimistic commits: no lost updates, dense snapshot ids") {
    val ice = table()
    ice.commitStep(StepInfo("base", "pb", 1, Nil, Map.empty))
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val latch = new java.util.concurrent.CountDownLatch(n)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    (0 until n).foreach { i =>
      pool.execute(() => {
        try ice.commitAtomically(_ =>
          Seq(StepInfo(s"s$i", s"p$i", i.toLong, Nil, Map.empty)))
        catch { case t: Throwable => errs.add(t) }
        finally latch.countDown()
      })
    }
    latch.await()
    pool.shutdown()
    assert(errs.isEmpty, s"commit errors: ${errs.peek()}")
    val steps = ice.completedSteps
    // every committer's step survives — a last-wins commit would lose some
    (0 until n).foreach(i => assert(steps.contains(s"s$i"), s"lost s$i"))
    // base snapshot is id 0, so n successful CAS commits end at id n
    assert(ice.currentSnapshotId.contains(n.toLong))
  }

  test("regressed LATEST pointer is overridden by the snapshot-log scan") {
    val ice = table()
    ice.commitStep(StepInfo("a", "pa", 1, Nil, Map.empty))
    ice.commitStep(StepInfo("b", "pb", 2, Nil, Map.empty))
    // simulate a slow committer re-installing an OLDER pointer after a newer
    // one was already swapped in (the non-atomic check-delete-rename window)
    val latest = java.nio.file.Paths.get(ice.root, "LATEST")
    java.nio.file.Files.write(latest, "0".getBytes("UTF-8"))
    // readers resolve the true head from the log, not the stale pointer
    assert(ice.currentSnapshotId.contains(1L))
    assert(ice.completedSteps.keySet == Set("a", "b"))
    // and the next commit chains off the true head
    ice.commitStep(StepInfo("c", "pc", 3, Nil, Map.empty))
    assert(ice.currentSnapshotId.contains(2L))
    assert(ice.completedSteps.keySet == Set("a", "b", "c"))
  }

  test("expireSnapshots never deletes the id LATEST references or newer") {
    val ice = table()
    (0 to 4).foreach(i =>
      ice.commitStep(StepInfo(s"s$i", s"p$i", i.toLong, Nil, Map.empty)))
    // pointer regressed to 2 (mid-swap committer): ids >= 2 must survive any
    // expiry or pointer-resolving readers would hit a missing snapshot
    val latest = java.nio.file.Paths.get(ice.root, "LATEST")
    java.nio.file.Files.write(latest, "2".getBytes("UTF-8"))
    val dropped = ice.expireSnapshots(keepLast = 1)
    assert(dropped == Seq(0L, 1L), s"dropped $dropped")
    assert(ice.stepsAt(2L).nonEmpty) // the referenced snapshot still reads
    assert(ice.currentSnapshotId.contains(4L))
  }

  test("time travel: stepsAt/readTableAt reproduce an older snapshot's state") {
    val ice = table()
    ice.commitStep(StepInfo("t", "pt", 1, Seq(("old.parquet", 1)), Map.empty))
    val oldId = ice.currentSnapshotId.get
    ice.commitStep(StepInfo("t", "pt", 2, Seq(("new.parquet", 2)), Map.empty))
    assert(ice.completedSteps("t").files.map(_._1) == Seq("new.parquet"))
    assert(ice.stepsAt(oldId)("t").files.map(_._1) == Seq("old.parquet"))
  }

  test("sharded manifests: a single-table commit writes exactly one new side file") {
    val ice = table()
    // 4-table snapshot: 4 manifests
    ice.commitSteps((1 to 4).map(i =>
      StepInfo(s"t$i", s"p$i", i.toLong, Seq((s"f$i.parquet", i.toLong)), Map.empty)))
    val m0 = ice.manifestCount
    assert(m0 == 4)
    // touch ONE table -> exactly one new manifest; the other 3 re-reference
    ice.commitStep(StepInfo("t2", "p2", 9,
      Seq(("f2.parquet", 2L), ("f2b.parquet", 7L)), Map.empty))
    assert(ice.manifestCount == m0 + 1,
      "an untouched table's manifest must not be rewritten")
    // commit with an UNCHANGED list -> zero new manifests (content-addressed)
    ice.commitStep(StepInfo("t3", "p3", 3, Seq(("f3.parquet", 3L)), Map.empty))
    assert(ice.manifestCount == m0 + 1)
    // readers resolve refs back to the full lists
    val steps = ice.completedSteps
    assert(steps("t2").files == Seq(("f2.parquet", 2L), ("f2b.parquet", 7L)))
    assert(steps("t1").files == Seq(("f1.parquet", 1L)))
    // two tables sharing identical file lists share ONE manifest
    val ice2 = table()
    ice2.commitSteps(Seq(
      StepInfo("a", "pa", 1, Seq(("same.parquet", 1L)), Map.empty),
      StepInfo("b", "pb", 1, Seq(("same.parquet", 1L)), Map.empty)))
    assert(ice2.manifestCount == 1)
  }

  test("expireSnapshots garbage-collects manifests only the expired referenced") {
    val ice = table()
    ice.commitStep(StepInfo("t", "pt", 1, Seq(("v1.parquet", 1L)), Map.empty))
    ice.commitStep(StepInfo("t", "pt", 2, Seq(("v2.parquet", 2L)), Map.empty))
    ice.commitStep(StepInfo("t", "pt", 3, Seq(("v3.parquet", 3L)), Map.empty))
    assert(ice.manifestCount == 3)
    ice.expireSnapshots(keepLast = 1)
    // v1/v2 manifests referenced only by expired snapshots are gone; the
    // survivor's stays readable
    assert(ice.manifestCount == 1)
    assert(ice.completedSteps("t").files == Seq(("v3.parquet", 3L)))
  }

  test("expireSnapshots keeps a manifest that a snapshot committed during its deletes shares") {
    val conf = new Configuration()
    conf.set("fs.racefs.impl", classOf[RaceFileSystem].getName)
    conf.setBoolean("fs.racefs.impl.disable.cache", true)
    val root = "racefs://" + Files.createTempDirectory("ice-race-").toString
    val ice = new IceTable(root, conf)
    ice.commitStep(StepInfo("t", "pt", 1, Seq(("v1.parquet", 1L)), Map.empty))
    ice.commitStep(StepInfo("t", "pt", 2, Seq(("v2.parquet", 2L)), Map.empty))
    ice.commitStep(StepInfo("t", "pt", 3, Seq(("v3.parquet", 3L)), Map.empty))
    // a writer commits snapshot 3 between the deletes of expired snapshots
    // 0 and 1; it lists v1 again, so it reuses snapshot 0's filesRef
    RaceFileSystem.onSnapshotDelete.set(() =>
      ice.commitStep(StepInfo("t", "pt", 1, Seq(("v1.parquet", 1L)), Map.empty)))
    assert(ice.expireSnapshots(keepLast = 1) == Seq(0L, 1L))
    assert(RaceFileSystem.onSnapshotDelete.get == null, "the commit never ran")
    assert(ice.currentSnapshotId.contains(3L))
    // v1's manifest survives for snapshot 3, v3's for snapshot 2
    assert(ice.manifestCount == 2)
    assert(ice.completedSteps("t").files == Seq(("v1.parquet", 1L)))
    assert(ice.stepsAt(2L)("t").files == Seq(("v3.parquet", 3L)))
  }
}
