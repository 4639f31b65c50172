package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.SparkSession

/** The INDEX-DIRECTORY PROTOCOL shared by every persisted index family
  * ([[LshIndex]], [[HammingIndex]], [[graft.operators.KMeansIVF]],
  * [[graft.operators.IvfPq]], [[graft.operators.NswGraph]]): everything
  * about an index directory that is not the family's algorithm. A family
  * supplies its build, probe, drift statistic and sidecar names; this
  * object owns the lock, the ready marker, the rebuild ordering, the batch
  * append commit and compaction.
  *
  * {{{
  *   dir/append.lock         writer mutex (atomic create-new): rebuilds,
  *                           appends and compactions serialize on it
  *   dir/<sidecars>          family geometry (meta.json, centroids.json,
  *                           codebooks.json, graph.txt), each landed
  *                           atomically (temp + rename — never torn)
  *   dir/stats.json          drift baseline {"n":…,"<sumKey>":…}
  *   dir/_ready              written LAST by a complete (re)build and
  *                           revoked FIRST by the next one; every reader
  *                           refuses a directory without it
  *   dir/appends/<batchId>/  one batch append: data/, stats.json,
  *                           result.json, then `_done` — the commit point
  * }}}
  *
  * Why `_ready`: a rebuild overwrites data trees and sidecars in several
  * steps, and a crash between them leaves MIXED GENERATIONS (new bucket
  * assignments against old centroids, new bands against old meta.json)
  * that would be served silently. With the marker revoked before the first
  * overwrite, such a directory refuses every probe, append and compaction
  * until a rebuild completes.
  *
  * Why one lock for everything: an append reading the OLD sidecars could
  * otherwise commit its `_done` into the NEW generation after a rebuild's
  * cleanup, and a compaction's fold set must be stable. [[IndexTxn.acquire]]
  * checks the same lock after its own CAS, so transactional enrollment and
  * plain writers always see each other. A lock left by a crashed owner
  * fails the next writer LOUDLY — remove it after confirming no rival is
  * live. */
object IndexDir {

  private[graft] def appendLock(dir: String): Path = Paths.get(dir, "append.lock")
  private def readyPath(dir: String): Path = Paths.get(dir, "_ready")

  /** Atomic create-new (the local fail-if-exists primitive): true iff this
    * caller created the file, false if it already existed. */
  private def casCreate(p: Path): Boolean =
    try { Files.createFile(p); true }
    catch { case _: FileAlreadyExistsException => false }

  /** Run `body` holding `lock`. `waitMs` > 0 polls for the lock instead of
    * failing immediately — the STREAMING caller's mode: a live rebuild or
    * vacuum holding the lock for a bounded window must stall the
    * micro-batch, not kill the StreamingQuery. The wait is BOUNDED: a lock
    * left by a crashed owner still surfaces loudly once the deadline
    * passes. Interactive callers keep the fail-fast default. */
  private[graft] def withLock[T](lock: Path, what: String, waitMs: Long = 0L)(body: => T): T = {
    val deadline = System.nanoTime() + waitMs * 1000000L
    var held = casCreate(lock)
    while (!held && System.nanoTime() < deadline) {
      Thread.sleep(100)
      held = casCreate(lock)
    }
    if (!held) throw new IllegalStateException(
      s"$what on ${lock.getParent}: a rival writer holds ${lock.getFileName} " +
        "(in flight, or crashed while holding it)" +
        (if (waitMs > 0) s" (waited ${waitMs}ms)" else "") +
        " — retry when it completes, or remove the lock if its owner is known dead")
    try body
    finally {
      Files.deleteIfExists(lock)
      ()
    }
  }

  /** Crash-safe small-file write: temp in the target dir + atomic move.
    * The temp is a plain create (not `createTempFile`, which is owner-only)
    * so sidecars get the same default permissions as the parquet data. */
  private[graft] def atomicWrite(p: Path, content: String): Unit = {
    val tmp = p.resolveSibling(s".tmp-${java.util.UUID.randomUUID}")
    Files.writeString(tmp, content, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Refuse to serve an index whose last (re)build did not complete. */
  private[graft] def requireReady(dir: String): Unit =
    require(Files.exists(readyPath(dir)),
      s"index $dir has no _ready marker — a (re)build was interrupted before " +
        "its data and sidecars were committed (they may be mixed generations); " +
        "rebuild the index (or markReady() a known-consistent index that " +
        "predates the marker)")

  /** ONE-TIME MIGRATION for an index written before the `_ready` gate
    * existed: stamps the marker on a tree the OPERATOR knows is
    * consistent. The gate cannot auto-stamp — a legacy-complete index and
    * one whose rebuild crashed after the data overwrite are
    * indistinguishable on disk (both lack the marker, both have a
    * meta.json) — so the judgment is deliberately manual. Only the
    * meta.json families (LshIndex, HammingIndex) predate the marker.
    * Takes the lock so it can't race a live rebuild. */
  private[graft] def markReady(dir: String): Unit =
    withLock(appendLock(dir), "markReady") {
      require(Files.exists(Paths.get(dir, "meta.json")),
        s"$dir has no meta.json — nothing to mark ready (build it with write())")
      if (!Files.exists(readyPath(dir))) atomicWrite(readyPath(dir), "")
    }

  /** The (re)build scope. Under the lock: refuse an open [[IndexTxn]]
    * (inside the lock, so a `SnapshotTxn.begin` cannot land unseen between
    * the check and the overwrite and gate a staged append against a
    * half-rebuilt view), clear transactional pendings (they belong to the
    * old generation), revoke `_ready`, drop `appends/` and `stats.json`
    * (assigned against the old geometry — a missing stats.json also makes
    * a crashed rebuild's appends refuse), run the family's data `write`, land the
    * sidecars it returns (name → content) atomically, and write `_ready`
    * LAST — it certifies that data trees and sidecars are one generation.
    * A `write` that throws leaves no `_ready` and no lock. */
  private[graft] def rebuild[T](dir: String)(write: => (T, Seq[(String, String)])): T = {
    Files.createDirectories(Paths.get(dir))
    withLock(appendLock(dir), "rebuild") {
      IndexTxn.requireNoOpenTxn(dir)
      IndexTxn.clearPendings(dir)
      Files.deleteIfExists(readyPath(dir))
      SnapshotTable.deleteRecursively(Paths.get(dir, "appends"))
      Files.deleteIfExists(Paths.get(dir, "stats.json"))
      val (out, sidecars) = write
      sidecars.foreach { case (name, body) => atomicWrite(Paths.get(dir, name), body) }
      atomicWrite(readyPath(dir), "")
      out
    }
  }

  /** Every committed data root of the index: the base build plus each
    * append whose `_done` marker landed (an append without the marker is
    * invisible — crash-atomic visibility, the SnapshotTable manifest idea
    * at file-tree granularity). */
  private[graft] def dataPaths(dir: String): Seq[String] = {
    val appends = new java.io.File(s"$dir/appends")
    val done =
      if (!appends.isDirectory) Seq.empty
      else appends.listFiles().toSeq
        .filter(f => new java.io.File(f, "_done").exists())
        .map(f => s"${f.getPath}/data").sorted
    s"$dir/data" +: done
  }

  private def statsJson(n: Long, sum: Long, sumKey: String): String =
    s"""{"n":$n,"$sumKey":$sum}"""

  /** Parse a stats sidecar `{"n":…,"<sumKey>":…}` — ONE parser for every
    * family (KMeansIVF/NswGraph key `sumMicro`, IvfPq `sumErr`). */
  private def readStats(path: Path, sumKey: String): (Long, Long) = {
    val m = ("""\{"n":(-?\d+),"""" + sumKey + """":(-?\d+)\}""").r
    Files.readString(path).trim match {
      case m(n, s) => (n.toLong, s.toLong)
      case other => throw new IllegalStateException(s"unparseable stats sidecar $path: $other")
    }
  }

  /** Running totals: base stats + every committed append's fragment. */
  private def totals(dir: String, sumKey: String): (Long, Long) =
    (Paths.get(dir, "stats.json") +:
      dataPaths(dir).drop(1).map(p => Paths.get(p).getParent.resolve("stats.json")))
      .map(readStats(_, sumKey))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))

  private def resultKeys(sumKey: String): Seq[String] = {
    val k = sumKey.capitalize
    Seq("nPrev", "nBatch", s"prev$k", s"batch$k", "driftBp", "rebuild")
  }

  /** An append verdict as `{"nPrev":…,"nBatch":…,"prev<SumKey>":…,
    * "batch<SumKey>":…,"driftBp":…,"rebuild":…}` — `v`'s fields in that
    * order (every family's AppendResult). */
  private[graft] def writeResult(path: Path, sumKey: String, v: Product): Unit =
    atomicWrite(path, resultKeys(sumKey).zip(v.productIterator)
      .map { case (k, x) => s""""$k":$x""" }.mkString("{", ",", "}"))

  private[graft] def readResult[R](path: Path, sumKey: String,
      make: (Long, Long, Long, Long, Long, Boolean) => R): R = {
    val m = resultKeys(sumKey)
      .map(k => "\"" + k + "\":(" + (if (k == "rebuild") "true|false" else "-?\\d+") + ")")
      .mkString("\\{", ",", "\\}").r
    Files.readString(path).trim match {
      case m(pn, bn, ps, bs, bp, rb) =>
        make(pn.toLong, bn.toLong, ps.toLong, bs.toLong, bp.toLong, rb.toBoolean)
      case other => throw new IllegalStateException(
        s"unparseable append result sidecar $path: $other")
    }
  }

  /** Append one batch under `appends/<batchId>/` without touching the base
    * generation. Under the lock and `_ready`: a batch whose `_done`
    * already landed returns its PERSISTED verdict verbatim (recomputing
    * against totals would shift once later appends land and could flip
    * the rebuild decision on an at-least-once runner's retry); a crashed
    * partial is wiped; `writeBatch` writes the bucket-partitioned rows to
    * the data path it is given and returns the batch's (n, sum);
    * `verdict` judges it against the running totals (base + committed
    * fragments — no corpus rescan); fragment and verdict land, then
    * `_done` — everything before it is invisible to readers. */
  private[graft] def append[R <: Product](dir: String, batchId: String, sumKey: String,
      make: (Long, Long, Long, Long, Long, Boolean) => R)(
      writeBatch: String => (Long, Long))(
      verdict: ((Long, Long), (Long, Long)) => R): R = {
    require(!batchId.contains("/") && batchId.nonEmpty, s"bad batchId '$batchId'")
    withLock(appendLock(dir), "append") {
      requireReady(dir)
      require(Files.exists(Paths.get(dir, "stats.json")),
        s"index at $dir has no stats sidecar — the build predates the " +
          "append-capable writeIndex; rebuild the index")
      val appDir = Paths.get(dir, "appends", batchId)
      val done = appDir.resolve("_done")
      if (Files.exists(done)) readResult(appDir.resolve("result.json"), sumKey, make)
      else {
        SnapshotTable.deleteRecursively(appDir) // crashed partial
        val batch = writeBatch(appDir.resolve("data").toString)
        val v = verdict(totals(dir, sumKey), batch)
        atomicWrite(appDir.resolve("stats.json"), statsJson(batch._1, batch._2, sumKey))
        writeResult(appDir.resolve("result.json"), sumKey, v)
        // the atomic commit point: everything above is invisible until this
        require(casCreate(done), s"impossible: $done already existed under append.lock")
        v
      }
    }
  }

  /** Fold the base tree + every committed append into a FRESH index at
    * `outDir` — compaction-as-replace, the [[SnapshotTable]] philosophy:
    * the source is never modified (an in-place directory swap has an
    * unrepairable crash window between its two renames), so its readers
    * are undisturbed and the caller repoints to `outDir` when ready. The
    * target must be disjoint from the source (an overlapping
    * mode("overwrite") would clobber the source while the union lazily
    * reads it). Under the source's lock and `_ready`: the fold set is
    * stable, the family's `sidecars` are copied unchanged (so probes
    * against `outDir` are IDENTICAL), `stats.json` absorbs the fragments
    * (drift baselines carry forward exactly), and `_ready` lands last. */
  private[graft] def compact(spark: SparkSession, dir: String, outDir: String,
      sidecars: Seq[String], sumKey: String): Unit = {
    val src = Paths.get(dir).toAbsolutePath.normalize
    val dst = Paths.get(outDir).toAbsolutePath.normalize
    require(src != dst && !dst.startsWith(src) && !src.startsWith(dst),
      s"compactAppends target $dst must be disjoint from the source index $src")
    withLock(appendLock(dir), "compaction") {
      requireReady(dir)
      val (n, sum) = totals(dir, sumKey)
      Files.createDirectories(dst)
      Files.deleteIfExists(readyPath(outDir))
      dataPaths(dir).map(p => spark.read.parquet(p)).reduce(_ unionByName _)
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$outDir/data")
      sidecars.foreach(s =>
        atomicWrite(Paths.get(outDir, s), Files.readString(Paths.get(dir, s))))
      atomicWrite(Paths.get(outDir, "stats.json"), statsJson(n, sum, sumKey))
      atomicWrite(readyPath(outDir), "")
    }
  }

  /** Atomic commit marker via hard link (lost race with a rival worker =
    * already done). */
  private[graft] def commitMarker(commits: Path, marker: Path): Unit = {
    val tmp = Files.createTempFile(commits, ".tmp-", "")
    try Files.createLink(marker, tmp)
    catch { case _: FileAlreadyExistsException => () }
    finally Files.deleteIfExists(tmp)
  }

  /** Run a streaming batch's index write under its per-batch claim
    * `commits/claim-<batchId>` (atomic create-new), committing `marker`
    * on success. Without the claim, two RIVAL workers on one batch would
    * both anti-join against the pre-write index and both append. The
    * loser waits up to `rivalWaitMs` for the winner's marker and returns
    * false (the rival finished — protocol working); a claim left by a
    * CRASH inside the write fails the replay LOUDLY. A FAILED (not
    * crashed) write releases the claim so the replay converges. */
  private[graft] def claimed(commits: Path, batchId: Long, marker: Path,
      rivalWaitMs: Long)(write: => Unit): Boolean = {
    val claim = commits.resolve(s"claim-$batchId")
    if (!casCreate(claim)) {
      val deadline = System.nanoTime() + rivalWaitMs * 1000000L
      while (!Files.exists(marker) && System.nanoTime() < deadline) Thread.sleep(50)
      if (Files.exists(marker)) return false
      throw new IllegalStateException(
        s"batch $batchId is claimed by a rival worker that has not " +
          s"completed within ${rivalWaitMs}ms (in flight, or crashed " +
          s"inside its write) — remove $claim after confirming no rival " +
          "is live, then replay")
    }
    try { write; commitMarker(commits, marker) }
    finally Files.deleteIfExists(claim)
    true
  }
}
