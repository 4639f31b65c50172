package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Transaction enrollment for SECONDARY INDEXES ([[HammingIndex]],
  * [[LshIndex]]) — the piece that lets a table and its dedup index publish
  * atomically under [[SnapshotTxn]]'s single `.decision` point.
  *
  * An index is not a [[SnapshotTable]]: its batch appends are plain
  * parquet files that become visible the moment they land. To stage an
  * index append invisibly, the batch's subtrees (chunks/ids, bands/docs)
  * are written under `dir/pending/<txid>/…` instead of the live tree, and
  * every index READ resolves the pending set at read time:
  *
  *   - `_committed` sidecar present → include (the freeze marker — the
  *     decision file's later lifecycle cannot un-commit history, the
  *     `.txnok` idea);
  *   - otherwise the pending's recorded decision file says `commit` →
  *     include (decided but not yet finalized — a crash window);
  *   - aborted, undecided, or no `txn.info` (crashed mid-stage) → excluded.
  *
  * Writers serialize through `dir/open.txn` (hard-link CAS, the
  * [[SnapshotTable]] lock shape): while an index is enrolled in an open
  * transaction, non-transactional writes refuse loudly — otherwise a
  * plain append's id-collision gate could miss the still-invisible staged
  * ids and admit a duplicate the moment the transaction commits. */
object IndexTxn {

  private[sources] def openTxnPath(dir: String): Path = Paths.get(dir, "open.txn")
  private[sources] def pendingRoot(dir: String): Path = Paths.get(dir, "pending")
  private[sources] def pendingDir(dir: String, txid: String): Path =
    pendingRoot(dir).resolve(txid)

  private def parseKv(p: Path): Map[String, String] =
    Files.readAllLines(p).asScala.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap

  private def casWrite(target: Path, body: String, onExists: => Unit): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, ".itx-", ".tmp")
    Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try Files.createLink(target, tmp)
    catch { case _: FileAlreadyExistsException => onExists }
    finally Files.deleteIfExists(tmp)
  }

  /** The txid holding this index's transaction lock, if any. */
  def openTxnId(dir: String): Option[String] = {
    val p = openTxnPath(dir)
    if (!Files.exists(p)) None else parseKv(p).get("txid")
  }

  /** Refuse non-transactional writes while a transaction is enrolled. */
  private[graft] def requireNoOpenTxn(dir: String): Unit =
    openTxnId(dir).foreach(t => throw new SnapshotTable.ConcurrentCommitException(
      s"index $dir is enrolled in open transaction $t — non-transactional " +
        "writes would race its staged ids; commit/abort/recover the " +
        "transaction first"))

  /** Take the index's transaction lock for `h` (called by
    * [[SnapshotTxn.begin]]; loud on conflict, never blocks). */
  private[sources] def acquire(dir: String, txid: String, txnDir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    casWrite(openTxnPath(dir), s"txid=$txid\ntxnd=$txnDir\n",
      throw new SnapshotTable.ConcurrentCommitException(
        s"index $dir already enrolled in transaction ${openTxnId(dir)}"))
    // close the race with plain appends: append() takes append.lock and
    // re-checks open.txn INSIDE it; acquire checks append.lock AFTER its
    // own CAS — whichever interleaving occurs, one side always observes
    // the other and backs off
    if (Files.exists(IndexDir.appendLock(dir))) {
      Files.deleteIfExists(openTxnPath(dir))
      throw new SnapshotTable.ConcurrentCommitException(
        s"index $dir has an append in flight (append.lock) — cannot enroll")
    }
  }

  /** Delete every pending subtree — a REBUILD's generation reset (callers
    * already refused if a transaction is open, so every pending here is
    * either committed-but-stale or an orphan of a decided txn). */
  private[sources] def clearPendings(dir: String): Unit = {
    val root = pendingRoot(dir)
    if (Files.isDirectory(root)) SnapshotTable.deleteRecursively(root)
  }

  /** Record a staged pending's coordinates (written BEFORE its data so a
    * mid-stage crash leaves a resolvable — and abortable — tree). */
  private[sources] def writeInfo(dir: String, txid: String, txnDir: String): Unit = {
    val d = pendingDir(dir, txid)
    Files.createDirectories(d)
    val info = d.resolve("txn.info")
    if (!Files.exists(info))
      Files.writeString(info, s"txid=$txid\ntxnd=$txnDir\n")
    ()
  }

  /** Mark a pending's data COMPLETE — written by the index's stageAppend
    * after its last subtree lands. [[SnapshotTxn.commit]] refuses a
    * pending without it (txn.info alone only proves staging STARTED — a
    * crash between subtrees must never be publishable), and read-time
    * resolution requires it too. */
  private[sources] def markStaged(dir: String, txid: String): Unit = {
    Files.writeString(pendingDir(dir, txid).resolve("_staged"), "1")
    ()
  }

  private[sources] def hasStaged(dir: String, txid: String): Boolean =
    Files.exists(pendingDir(dir, txid).resolve("_staged"))

  /** Every LIVE root of subtree `sub` (e.g. "chunks"): the main tree plus
    * each COMMITTED pending's copy. Read-only — finalization is the
    * coordinator's job. */
  def livePaths(dir: String, sub: String): Seq[String] = {
    val root = pendingRoot(dir)
    val pendings =
      if (!Files.isDirectory(root)) Seq.empty
      else Files.list(root).iterator().asScala.toSeq.sorted
        .filter(p => isCommitted(p) && Files.isDirectory(p.resolve(sub)))
        .map(p => p.resolve(sub).toString)
    s"$dir/$sub" +: pendings
  }

  private def isCommitted(pend: Path): Boolean = {
    if (Files.exists(pend.resolve("_committed"))) return true
    // no _staged = the stage never finished writing its subtrees; even a
    // commit decision cannot make a half-staged pending servable (commit()
    // refuses to decide without it — this guard covers decision races)
    if (!Files.exists(pend.resolve("_staged"))) return false
    val info = pend.resolve("txn.info")
    if (!Files.exists(info)) return false // crashed mid-stage, never decided
    val kv = parseKv(info)
    (for { txid <- kv.get("txid"); txnd <- kv.get("txnd") }
      yield SnapshotTxn.decisionOf(txnd, txid).contains("commit"))
      .getOrElse(false)
  }

  /** Finalize a committed enrollment: freeze `_committed` into the
    * pending (idempotent), release the lock. The staged subtree stays in
    * place and is served through [[livePaths]] forever after. */
  private[sources] def finalizeCommitted(dir: String, txid: String): Unit = {
    val d = pendingDir(dir, txid)
    if (Files.isDirectory(d))
      casWrite(d.resolve("_committed"), s"txid=$txid\n", ())
    Files.deleteIfExists(openTxnPath(dir))
    ()
  }

  /** Finalize an aborted enrollment: the staged subtree is deleted whole
    * (it was never visible), the lock released. */
  private[sources] def finalizeAborted(dir: String, txid: String): Unit = {
    val d = pendingDir(dir, txid)
    if (Files.isDirectory(d)) SnapshotTable.deleteRecursively(d)
    Files.deleteIfExists(openTxnPath(dir))
    ()
  }

  /** Crash repair for one index — the [[SnapshotTxn.recover]] analog. */
  def recover(dir: String): String = {
    val p = openTxnPath(dir)
    if (!Files.exists(p)) return "no open transaction"
    val kv = parseKv(p)
    SnapshotTxn.decisionOf(kv("txnd"), kv("txid")) match {
      case Some("commit") =>
        finalizeCommitted(dir, kv("txid")); "finalized committed transaction"
      case Some(_) =>
        finalizeAborted(dir, kv("txid")); "completed aborted transaction"
      case None => "transaction in flight"
    }
  }
}
