package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** MULTI-TABLE ATOMIC TRANSACTIONS over [[SnapshotTable]]s — publish
  * commits to several tables with an all-or-nothing guarantee, built from
  * the same primitive as every single-table commit: hard-link
  * creation-as-CAS on a local filesystem.
  *
  * Protocol (two-phase with a single atomic decision point):
  *
  *  1. [[begin]] takes the per-table txn LOCK — `_snapshots/open.txn`
  *    hard-link CAS in deterministic (sorted) table order. A held lock
  *    fails loudly; nothing ever blocks, so there is no deadlock. While
  *    the lock is held, non-transactional commits to the table are
  *    refused (inside their CAS retry loop), which is what lets the
  *    visibility rule below assume only TRAILING versions can be pending.
  *  2. Staging: each table gets at most ONE pending commit
  *    ([[stageAppend]]/[[stageReplace]]). The pending commit is a
  *    perfectly normal manifest claiming a normal version slot — except
  *    its meta carries `txn=<txid>` + `txnd=<txnDir>`, which makes it
  *    INVISIBLE to every reader ([[SnapshotTable.versions]]) until the
  *    transaction's DECISION says `commit`.
  *  3. [[commit]] / [[abort]] race on ONE file — `<txnDir>/<txid>.decision`,
  *    whose first line is the verdict. A single hard-link CAS decides:
  *    two separate commit/abort marker files could BOTH land, and an
  *    ambiguous state whose abort cleanup deletes committed data cannot
  *    exist when there is only one filename to win. Before the decision,
  *    readers of every member table resolve to their pre-transaction
  *    versions; a `commit` verdict flips all of them at one instant. A
  *    crash before the decision aborts implicitly (nothing ever becomes
  *    visible); a crash after it is repaired idempotently ([[recover]]).
  *  4. Finalization (best-effort, idempotent): a `.txnok` sidecar per
  *    pending slot freezes committed-ness into the table's own directory
  *    (so the decision file's later lifecycle cannot un-commit history),
  *    then the lock drops. Aborts delete staged data and tombstone each
  *    pending slot with a `.dead` sidecar — slot numbers are never
  *    reused, so version arithmetic, CDC offsets and clones stay
  *    unambiguous; `vacuum` eventually sweeps old tombstones.
  *
  * Readers need nothing new: `read`/`readVersion`/`changes`/`pollChanges`
  * all resolve through [[SnapshotTable.versions]], which consults the
  * decision exactly while a transaction is open on the table. A reader
  * that loads table A after the decision and table B before it does not
  * exist in the half-committed sense: each table independently answers
  * "pre-txn" until the verdict file exists and "post-txn" after — the
  * half-transaction state (A new, B old FOREVER after a crash) that two
  * independent commits would expose cannot occur.
  */
object SnapshotTxn {

  /** An open transaction: its id, the decision directory, the ABSOLUTE
    * paths of the member tables (sorted — lock order), and any enrolled
    * SECONDARY INDEXES ([[IndexTxn]] — HammingIndex/LshIndex trees whose
    * staged appends flip visible at the same decision instant). */
  final case class Handle(txid: String, txnDir: String, tables: Seq[String],
                          indexes: Seq[String] = Nil)

  final class TxnStateException(msg: String) extends RuntimeException(msg)

  private def abs(p: String): String = Paths.get(p).toAbsolutePath.toString

  /** The txid holding `tableDir`'s transaction lock, if any. */
  def openTxnId(tableDir: String): Option[String] = {
    val p = SnapshotTable.openTxnPath(tableDir)
    if (!Files.exists(p)) None
    else parseKv(p).get("txid")
  }

  private def parseKv(p: Path): Map[String, String] =
    Files.readAllLines(p).asScala.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap

  private def casWrite(target: Path, body: String, onExists: => Unit): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, ".txn-", ".tmp")
    Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try Files.createLink(target, tmp)
    catch { case _: FileAlreadyExistsException => onExists }
    finally Files.deleteIfExists(tmp)
  }

  /** Open a transaction across `tables` and (optionally) secondary
    * `indexes`. Locks are taken in sorted order — tables first, then
    * indexes — and all released if any acquisition fails (a member
    * already inside a transaction fails loudly — nothing waits, so
    * nothing deadlocks). */
  def begin(txnDir: String, tables: Seq[String],
            indexes: Seq[String] = Nil): Handle = {
    require(tables.nonEmpty || indexes.nonEmpty,
      "a transaction needs at least one table or index")
    Files.createDirectories(Paths.get(txnDir))
    val txid = java.util.UUID.randomUUID().toString
    val sorted = tables.map(abs).distinct.sorted
    val sortedIdx = indexes.map(abs).distinct.sorted
    val h = Handle(txid, abs(txnDir), sorted, sortedIdx)
    var acquired = List.empty[String]
    var acquiredIdx = List.empty[String]
    try {
      for (t <- sorted) {
        SnapshotTable.init(t)
        casWrite(SnapshotTable.openTxnPath(t),
          s"txid=$txid\ntxnd=${h.txnDir}\n",
          throw new SnapshotTable.ConcurrentCommitException(
            s"table $t already has an open transaction (${openTxnId(t)})"))
        acquired ::= t
      }
      for (i <- sortedIdx) {
        IndexTxn.acquire(i, txid, h.txnDir)
        acquiredIdx ::= i
      }
      h
    } catch {
      case e: Throwable =>
        acquired.foreach(t => Files.deleteIfExists(SnapshotTable.openTxnPath(t)))
        acquiredIdx.foreach(i => Files.deleteIfExists(IndexTxn.openTxnPath(i)))
        throw e
    }
  }

  /** Stage an append on a member table (invisible until [[commit]]). */
  def stageAppend(h: Handle, df: DataFrame, tableDir: String): Long =
    SnapshotTable.commit(df, abs(tableDir), replace = false, txn = Some(h))

  /** Stage a full replace on a member table (invisible until [[commit]]). */
  def stageReplace(h: Handle, df: DataFrame, tableDir: String): Long =
    SnapshotTable.commit(df, abs(tableDir), replace = true, txn = Some(h))

  /** The pending slot `h` staged on `tableDir`, if any. Only the raw tip
    * can be pending (the lock serializes writers). */
  private def pendingTip(h: Handle, tableDir: String): Option[Long] =
    SnapshotTable.rawVersions(tableDir).lastOption.filter(v =>
      SnapshotTable.snapshot(tableDir, v).meta.get("txn").contains(h.txid))

  /** The transaction's single decision file; first line = verdict. */
  private[sources] def decisionPath(txnDir: String, txid: String): Path =
    Paths.get(txnDir, s"$txid.decision")

  private[sources] def decisionOf(txnDir: String, txid: String): Option[String] = {
    val p = decisionPath(txnDir, txid)
    if (!Files.exists(p)) None
    else Files.readAllLines(p).asScala.headOption
  }

  /** Atomically publish every staged commit: ONE hard-link CAS on the
    * decision file. Requires every member table to have staged exactly
    * one commit — "publish both or neither" presumes both were written.
    * Finalization after the decision is idempotent repair ([[recover]]). */
  def commit(h: Handle): Unit = {
    for (t <- h.tables)
      if (pendingTip(h, t).isEmpty)
        throw new TxnStateException(
          s"transaction ${h.txid} staged nothing on $t — stage every member table or abort")
    for (i <- h.indexes)
      if (!IndexTxn.hasStaged(i, h.txid))
        throw new TxnStateException(
          s"transaction ${h.txid} staged nothing on index $i — stage every member or abort")
    casWrite(decisionPath(h.txnDir, h.txid),
      ("commit" +: (h.tables ++ h.indexes)).mkString("", "\n", "\n"), ())
    decisionOf(h.txnDir, h.txid) match {
      case Some("commit") =>
        h.tables.foreach(finalizeCommitted(h, _))
        h.indexes.foreach(IndexTxn.finalizeCommitted(_, h.txid))
      case d => throw new TxnStateException(
        s"transaction ${h.txid} lost the decision race: $d")
    }
  }

  /** Abort: nothing ever becomes visible. Races [[commit]] on the single
    * decision file; staged data is deleted and each pending slot
    * tombstoned with a `.dead` sidecar only when ABORT actually won. */
  def abort(h: Handle): Unit = {
    casWrite(decisionPath(h.txnDir, h.txid),
      ("abort" +: (h.tables ++ h.indexes)).mkString("", "\n", "\n"), ())
    decisionOf(h.txnDir, h.txid) match {
      case Some("abort") =>
        h.tables.foreach(finalizeAborted(h, _))
        h.indexes.foreach(IndexTxn.finalizeAborted(_, h.txid))
      case d => throw new TxnStateException(
        s"transaction ${h.txid} already decided: $d — cannot abort")
    }
  }

  private def finalizeCommitted(h: Handle, t: String): Unit = {
    pendingTip(h, t).foreach { v =>
      casWrite(SnapshotTable.txnOkPath(t, v), s"txid=${h.txid}\n", ())
    }
    Files.deleteIfExists(SnapshotTable.openTxnPath(t))
    ()
  }

  private def finalizeAborted(h: Handle, t: String): Unit = {
    pendingTip(h, t).foreach { v =>
      // staged dirs = top-level dirs this pending manifest introduced
      // (files not carried from the previous visible version); delete the
      // data BEFORE the tombstone so a crash in between leaves the staged
      // dir referenced by a raw manifest (never orphan-swept early) and
      // recovery simply re-runs this deletion
      val pend = SnapshotTable.snapshot(t, v)
      val prevFiles = SnapshotTable.versions(t).lastOption
        .map(pv => SnapshotTable.snapshot(t, pv).files.toSet)
        .getOrElse(Set.empty[String])
      val stagedDirs = pend.files.filterNot(prevFiles)
        .map(_.takeWhile(_ != '/')).distinct
      stagedDirs.foreach(d =>
        SnapshotTable.deleteRecursively(Paths.get(t, d)))
      casWrite(SnapshotTable.deadPath(t, v), s"txid=${h.txid}\n", ())
    }
    Files.deleteIfExists(SnapshotTable.openTxnPath(t))
    ()
  }

  /** Crash repair for ONE table: resolve its open transaction lock by the
    * decision's state. Committed → finalize (`.txnok` + unlock); aborted →
    * complete the abort cleanup; no decision → the transaction is in
    * flight (or its writer died before deciding — [[forceAbort]] decides).
    * Idempotent; safe to call any time. */
  def recover(tableDir: String): String = {
    val t = abs(tableDir)
    val p = SnapshotTable.openTxnPath(t)
    if (!Files.exists(p)) return "no open transaction"
    val kv = parseKv(p)
    val h = Handle(kv("txid"), kv("txnd"), Seq(t))
    decisionOf(h.txnDir, h.txid) match {
      case Some("commit") =>
        finalizeCommitted(h, t); "finalized committed transaction"
      case Some(_) =>
        finalizeAborted(h, t); "completed aborted transaction"
      case None => "transaction in flight"
    }
  }

  /** [[forceAbort]] for an INDEX member ([[IndexTxn]]) — a transaction
    * whose members are only indexes would otherwise have no sanctioned
    * repair for a writer that died before deciding. */
  def forceAbortIndex(indexDir: String): String = {
    val p = IndexTxn.openTxnPath(indexDir)
    if (!Files.exists(p)) return "no open transaction"
    val kv = parseKv(p)
    casWrite(decisionPath(kv("txnd"), kv("txid")), s"abort\n$indexDir\n", ())
    decisionOf(kv("txnd"), kv("txid")) match {
      case Some("commit") =>
        IndexTxn.finalizeCommitted(indexDir, kv("txid"))
        "already committed — finalized instead"
      case _ =>
        IndexTxn.finalizeAborted(indexDir, kv("txid")); "aborted"
    }
  }

  /** Operator intervention for a writer that died before deciding: drive
    * the table's open transaction to ABORT via the decision CAS (if the
    * writer actually committed first, this finalizes the commit instead
    * and says so — the single decision file makes the race safe). */
  def forceAbort(tableDir: String): String = {
    val t = abs(tableDir)
    val p = SnapshotTable.openTxnPath(t)
    if (!Files.exists(p)) return "no open transaction"
    val kv = parseKv(p)
    val h = Handle(kv("txid"), kv("txnd"), Seq(t))
    casWrite(decisionPath(h.txnDir, h.txid), s"abort\n$t\n", ())
    decisionOf(h.txnDir, h.txid) match {
      case Some("commit") =>
        finalizeCommitted(h, t); "already committed — finalized instead"
      case _ =>
        finalizeAborted(h, t); "aborted"
    }
  }
}
