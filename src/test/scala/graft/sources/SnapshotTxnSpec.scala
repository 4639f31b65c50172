package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Multi-table transaction semantics, with every crash point injected by
  * simply STOPPING the protocol where the crash would occur (each phase is
  * a plain method call; a crash is the absence of the calls after it). */
class SnapshotTxnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_txn").toString

  private def ints(dir: String): Seq[Int] =
    SnapshotTable.read(spark, dir).as[Int].collect().sorted.toSeq

  test("publish both or neither: the decision file is the atomic point") {
    val a = tmp(); val b = tmp(); val txd = tmp()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), a)
    SnapshotTable.commitAppend(Seq(10).toDF("x"), b)

    val h = SnapshotTxn.begin(txd, Seq(a, b))
    SnapshotTxn.stageAppend(h, Seq(2).toDF("x"), a)
    // CRASH POINT 1: staged A only — readers see old A, old B
    assert(ints(a) == Seq(1) && ints(b) == Seq(10))

    SnapshotTxn.stageAppend(h, Seq(20).toDF("x"), b)
    // CRASH POINT 2: both staged, no decision — still old, old
    assert(ints(a) == Seq(1) && ints(b) == Seq(10))

    SnapshotTxn.commit(h)
    // after the single decision CAS: new, new
    assert(ints(a) == Seq(1, 2) && ints(b) == Seq(10, 20))
    // locks dropped; normal commits flow again
    SnapshotTable.commitAppend(Seq(3).toDF("x"), a)
    assert(ints(a) == Seq(1, 2, 3))
  }

  test("crash between decision and finalization: already committed; recover repairs") {
    val a = tmp(); val b = tmp(); val txd = tmp()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), a)
    SnapshotTable.commitAppend(Seq(10).toDF("x"), b)
    val h = SnapshotTxn.begin(txd, Seq(a, b))
    SnapshotTxn.stageAppend(h, Seq(2).toDF("x"), a)
    SnapshotTxn.stageAppend(h, Seq(20).toDF("x"), b)
    // simulate the crash: write the decision file DIRECTLY (what commit()
    // does first), then "die" before any finalization
    val tmpF = Files.createTempFile(java.nio.file.Paths.get(h.txnDir), ".t", ".tmp")
    Files.write(tmpF, "commit\n".getBytes)
    Files.createLink(SnapshotTxn.decisionPath(h.txnDir, h.txid), tmpF)
    Files.deleteIfExists(tmpF)
    // the decision alone makes BOTH tables visible-new (readers resolve
    // through it while the lock is still held)
    assert(ints(a) == Seq(1, 2) && ints(b) == Seq(10, 20))
    // repair each table independently; idempotent
    assert(SnapshotTxn.recover(a) == "finalized committed transaction")
    assert(SnapshotTxn.recover(a) == "no open transaction")
    assert(SnapshotTxn.recover(b) == "finalized committed transaction")
    assert(ints(a) == Seq(1, 2) && ints(b) == Seq(10, 20))
    // after finalization the .txnok sidecar freezes committed-ness even if
    // the decision file disappears (txn-dir GC)
    Files.delete(SnapshotTxn.decisionPath(h.txnDir, h.txid))
    assert(ints(a) == Seq(1, 2) && ints(b) == Seq(10, 20))
  }

  test("abort: staged data deleted, slots tombstoned, numbers never reused") {
    val a = tmp(); val b = tmp(); val txd = tmp()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), a) // v1
    val h = SnapshotTxn.begin(txd, Seq(a, b))
    SnapshotTxn.stageAppend(h, Seq(2).toDF("x"), a) // pending v2
    SnapshotTxn.stageAppend(h, Seq(20).toDF("x"), b) // pending v1
    SnapshotTxn.abort(h)
    assert(ints(a) == Seq(1))
    assert(SnapshotTable.versions(a) == Seq(1L))
    assert(SnapshotTable.versions(b).isEmpty)
    // dead slot 2 is tombstoned: the next commit claims v3, never v2
    val v = SnapshotTable.commitAppend(Seq(3).toDF("x"), a)
    assert(v == 3L, s"aborted slot must not be reused, got $v")
    assert(ints(a) == Seq(1, 3))
    // time travel to the tombstone fails loudly
    intercept[IllegalStateException] { SnapshotTable.readVersion(spark, a, 2L) }
    // commit after abort refuses
    intercept[SnapshotTxn.TxnStateException] { SnapshotTxn.commit(h) }
  }

  test("the txn lock refuses rival transactions and non-transactional writers") {
    val a = tmp(); val b = tmp(); val c = tmp(); val txd = tmp()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), a)
    val h = SnapshotTxn.begin(txd, Seq(a, b))
    // rival txn overlapping on a: fails, and must RELEASE its partial locks
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTxn.begin(txd, Seq(c, a))
    }
    assert(SnapshotTxn.openTxnId(c).isEmpty, "partial lock on c must be released")
    // plain commit on a locked table fails loudly (not a livelock)
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTable.commitAppend(Seq(9).toDF("x"), a)
    }
    // a second staged commit on the same table in one txn is refused
    SnapshotTxn.stageAppend(h, Seq(2).toDF("x"), a)
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTxn.stageAppend(h, Seq(3).toDF("x"), a)
    }
    SnapshotTxn.stageAppend(h, Seq(20).toDF("x"), b)
    SnapshotTxn.commit(h)
    assert(ints(a) == Seq(1, 2))
  }

  test("forceAbort drives an undecided crash to abort; decided commits finalize instead") {
    val a = tmp(); val b = tmp(); val txd = tmp()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), a)
    val h = SnapshotTxn.begin(txd, Seq(a, b))
    SnapshotTxn.stageAppend(h, Seq(2).toDF("x"), a)
    // writer dies undecided; operator forces the verdict
    assert(SnapshotTxn.recover(a) == "transaction in flight")
    assert(SnapshotTxn.forceAbort(a) == "aborted")
    assert(ints(a) == Seq(1))
    // b never staged, still locked by the dead txn — same decision resolves it
    assert(SnapshotTxn.recover(b) == "completed aborted transaction")
    assert(SnapshotTable.versions(b).isEmpty)
    // the dead handle's commit loses the decision race loudly
    intercept[SnapshotTxn.TxnStateException] { SnapshotTxn.commit(h) }
    // a FRESH transaction on the now-released tables proceeds normally
    val h2 = SnapshotTxn.begin(txd, Seq(a))
    SnapshotTxn.stageAppend(h2, Seq(5).toDF("x"), a)
    SnapshotTxn.commit(h2)
    assert(ints(a) == Seq(1, 5))
  }

  test("vacuum sweeps old abort tombstones; orphan sweep spares pending staging") {
    val a = tmp(); val txd = tmp()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), a) // v1
    val h = SnapshotTxn.begin(txd, Seq(a))
    SnapshotTxn.stageAppend(h, Seq(2).toDF("x"), a) // pending v2
    // orphan sweep (age 0) while the txn is open: the pending staged dir is
    // referenced by a RAW manifest and must survive
    val (_, swept) = SnapshotTable.vacuum(a, keepVersions = 10, orphanAgeMs = Some(0L))
    assert(swept == 0, "pending transaction staging must not be orphan-swept")
    SnapshotTxn.commit(h)
    assert(ints(a) == Seq(1, 2))

    // now an aborted txn leaves a tombstone; pile commits on top and vacuum
    val h2 = SnapshotTxn.begin(txd, Seq(a))
    SnapshotTxn.stageAppend(h2, Seq(99).toDF("x"), a) // pending v3 -> dead
    SnapshotTxn.abort(h2)
    SnapshotTable.commitAppend(Seq(3).toDF("x"), a) // v4
    SnapshotTable.commitAppend(Seq(4).toDF("x"), a) // v5
    val (dropped, _) = SnapshotTable.vacuum(a, keepVersions = 1)
    assert(dropped >= 1)
    assert(ints(a) == Seq(1, 2, 3, 4))
    assert(SnapshotTable.versions(a) == Seq(5L))
    // the dead v3 manifest + sidecar are gone with the history
    assert(!Files.exists(SnapshotTable.manifestPath(a, 3L)))
    assert(!Files.exists(SnapshotTable.deadPath(a, 3L)))
  }

  test("cloneAt refuses pending and tombstoned versions (links would outlive an abort)") {
    val a = tmp(); val txd = tmp()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), a) // v1
    val h = SnapshotTxn.begin(txd, Seq(a))
    SnapshotTxn.stageAppend(h, Seq(2).toDF("x"), a) // pending v2
    intercept[IllegalStateException] {
      SnapshotTable.cloneAt(a, 2L, tmp() + "/t")
    }
    SnapshotTable.cloneAt(a, 1L, tmp() + "/c1") // visible version clones fine
    SnapshotTxn.abort(h)
    intercept[IllegalStateException] {
      SnapshotTable.cloneAt(a, 2L, tmp() + "/t2") // tombstone
    }
  }

  test("restore and merge number past abort tombstones; restore refuses under a lock") {
    val a = tmp(); val txd = tmp()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), a)   // v1
    SnapshotTable.commitAppend(Seq(2).toDF("x"), a)   // v2
    val h = SnapshotTxn.begin(txd, Seq(a))
    SnapshotTxn.stageAppend(h, Seq(9).toDF("x"), a)   // pending v3
    // a restore while the txn lock is held refuses loudly
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTable.restoreVersion(spark, a, 1L)
    }
    SnapshotTxn.abort(h)                              // v3 tombstoned
    // restore must claim v4, not collide with the dead v3 forever
    val rv = SnapshotTable.restoreVersion(spark, a, 1L)
    assert(rv == 4L, s"restore must number past the tombstone, got $rv")
    assert(ints(a) == Seq(1))

    // branch merge over a tombstoned main tip: same numbering rule
    val main = tmp(); val br = tmp() + "/b"; val txd2 = tmp()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), main) // v1
    SnapshotTable.cloneAt(main, 1L, br)
    SnapshotTable.commitAppend(Seq(7).toDF("x"), br)
    val h2 = SnapshotTxn.begin(txd2, Seq(main))
    SnapshotTxn.stageAppend(h2, Seq(9).toDF("x"), main) // pending v2
    SnapshotTxn.abort(h2)                               // v2 tombstoned
    val mv = SnapshotTable.mergeBranch(main, br)
    assert(mv == 3L, s"merge must number past the tombstone, got $mv")
    assert(ints(main) == Seq(1, 7))
  }

  test("vacuum sweeps .txnok sidecars with their dropped versions") {
    val a = tmp(); val txd = tmp()
    SnapshotTable.commitAppend(Seq(1).toDF("x"), a) // v1
    val h = SnapshotTxn.begin(txd, Seq(a))
    SnapshotTxn.stageAppend(h, Seq(2).toDF("x"), a) // v2 (txn)
    SnapshotTxn.commit(h)
    SnapshotTable.commitAppend(Seq(3).toDF("x"), a) // v3
    SnapshotTable.commitAppend(Seq(4).toDF("x"), a) // v4
    assert(Files.exists(SnapshotTable.txnOkPath(a, 2L)))
    SnapshotTable.vacuum(a, keepVersions = 1)
    assert(!Files.exists(SnapshotTable.txnOkPath(a, 2L)),
      ".txnok sidecars must not leak past their vacuumed versions")
    assert(ints(a) == Seq(1, 2, 3, 4))
  }
}
