package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.IndexDir

/** DRIFT-TRIGGERED INDEX REBUILD — the loop that closes the append
  * lifecycle: appends accumulate under frozen centroids, the drift gate
  * fires ([[KMeansIVF.AppendResult.rebuild]]), and something must REFIT
  * and atomically repoint readers without ever serving mixed state. This
  * operator owns that composition for the IVF family:
  *
  * {{{
  *   root/
  *     current       one line: the serving generation's subdir name —
  *                   REPLACED ATOMICALLY (write-temp + rename), the single
  *                   switch point
  *     rebuild.lock  serializes rebuilds AND appends (atomic create-new)
  *     gen-00000001/ a full KMeansIVF index dir (data/, centroids.json,
  *     gen-00000002/ stats.json, _ready, appends/…) — IMMUTABLE once
  *                   retired, append-only while current
  * }}}
  *
  * ISOLATION ARGUMENT (the spec proves it live): a probe resolves
  * `current` exactly once, then reads only that generation's tree. A
  * generation is complete before the pointer can name it (writeIndex's
  * `_ready` lands before the swap) and is never deleted while it might be
  * named ([[vacuum]] removes only non-current generations, and callers run
  * it only after in-flight probes drain). So every probe sees exactly one
  * complete generation — old or new, never a mix. The pointer swap is a
  * POSIX `ATOMIC_MOVE` rename: readers see the old or the new content of
  * `current`, never a torn read.
  *
  * APPEND/REBUILD EXCLUSION: appends route through [[append]], which holds
  * `rebuild.lock` across resolve + [[KMeansIVF.appendIndex]]. A rebuild
  * holds the same lock across refit-read + swap, so an append lands either
  * entirely before the refit's read (its rows join the new generation) or
  * entirely after the swap (it targets the new generation) — never into a
  * retired tree. Direct `KMeansIVF.appendIndex` calls against a generation
  * dir bypass this contract; don't.
  *
  * The REFIT is deterministic ([[KMeansIVF.writeIndex]]'s md5-sampled
  * driver fit over the union corpus), so probe-after-rebuild equals a
  * fresh fit over the full corpus — the q346 oracle replays exactly that.
  * At 100 TB the refit is one full-corpus read + one bucket-partitioned
  * write (the same cost as the initial build); everything else here is
  * metadata.
  */
object IndexLifecycle {

  private def currentPath(root: String) = java.nio.file.Paths.get(s"$root/current")
  private def lockPath(root: String) = java.nio.file.Paths.get(s"$root/rebuild.lock")

  private def genName(n: Long): String = f"gen-$n%08d"

  /** The serving generation's index dir — what probes pass to
    * [[KMeansIVF.indexTopK]]. One read of one small file; resolve ONCE per
    * probe and reuse (re-resolving mid-probe could straddle a swap). */
  def resolve(root: String): String = {
    val p = currentPath(root)
    require(java.nio.file.Files.exists(p),
      s"index root $root has no current pointer — init() it first")
    s"$root/${java.nio.file.Files.readString(p).trim}"
  }

  /** Bootstrap generation 1 from the corpus. */
  def init(corpus: DataFrame, idCol: String, vecCol: String, root: String,
           nClusters: Int = 10, iters: Int = 4, sampleCap: Long = 10000): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    require(!java.nio.file.Files.exists(currentPath(root)),
      s"index root $root is already initialized — use rebuild() to refit")
    val g = genName(1)
    KMeansIVF.writeIndex(corpus, idCol, vecCol, s"$root/$g",
      nClusters, iters, sampleCap)
    IndexDir.atomicWrite(currentPath(root), g) // the one atomic switch point
  }

  /** Append a batch to the CURRENT generation, returning its drift
    * verdict. Serializes with [[rebuild]] on `rebuild.lock` (see the
    * exclusion argument above); a lock held by a live rebuild fails
    * loudly — retry once it completes, and the batch lands in the new
    * generation.
    *
    * EXACTLY-ONCE ACROSS GENERATIONS: `appendIndex`'s `_done` marker lives
    * inside a generation tree, so a batch committed to gen N and replayed
    * AFTER a rebuild would re-append into gen N+1 — whose refit already
    * absorbed its rows (silent duplication). A root-level
    * `applied/<batchId>` result file closes that: checked first on every
    * append, written after commit, and RECONCILED by [[rebuild]] for any
    * batch whose crash window fell between the generation commit and the
    * root marker. A replayed batch returns its persisted verdict verbatim
    * (the at-least-once-runner rule of the per-generation protocol). */
  def append(batch: DataFrame, idCol: String, vecCol: String, root: String,
             batchId: String, lockWaitMs: Long = 0L): KMeansIVF.AppendResult =
    IndexDir.withLock(lockPath(root), "append", lockWaitMs) {
      val applied = appliedPath(root, batchId)
      if (java.nio.file.Files.exists(applied))
        IndexDir.readResult(applied, "sumMicro", KMeansIVF.AppendResult)
      else {
        val v = KMeansIVF.appendIndex(batch, idCol, vecCol, resolve(root), batchId)
        java.nio.file.Files.createDirectories(applied.getParent)
        IndexDir.writeResult(applied, "sumMicro", v)
        v
      }
    }

  private def appliedPath(root: String, batchId: String): java.nio.file.Path = {
    require(!batchId.contains("/") && batchId.nonEmpty, s"bad batchId '$batchId'")
    java.nio.file.Paths.get(s"$root/applied/$batchId")
  }

  /** REFIT into a fresh generation and atomically repoint `current`:
    * reads the serving generation's full row set (base + committed
    * appends), runs the same deterministic fit as the original build on
    * it, writes `gen-<n+1>` (complete with `_ready` before the swap), and
    * renames the pointer. The retired generation stays on disk for
    * in-flight probes until [[vacuum]]. Returns the new generation dir. */
  def rebuild(spark: SparkSession, root: String,
              nClusters: Int = 10, iters: Int = 4,
              sampleCap: Long = 10000): String =
    IndexDir.withLock(lockPath(root), "rebuild") {
      val cur = resolve(root)
      graft.sources.IndexTxn.requireNoOpenTxn(cur)
      val curName = java.nio.file.Paths.get(cur).getFileName.toString
      val n = curName.stripPrefix("gen-").toLong
      val next = genName(n + 1)
      // RECONCILE the cross-generation exactly-once record first: any
      // batch whose generation `_done` landed but whose root `applied/`
      // marker did not (the [[append]] crash window) is about to have its
      // rows absorbed by this refit — its replay must no-op afterwards
      val appendsDir = new java.io.File(s"$cur/appends")
      if (appendsDir.isDirectory) appendsDir.listFiles().foreach { f =>
        val res = f.toPath.resolve("result.json")
        val applied = appliedPath(root, f.getName)
        if (new java.io.File(f, "_done").exists() &&
            !java.nio.file.Files.exists(applied)) {
          java.nio.file.Files.createDirectories(applied.getParent)
          java.nio.file.Files.copy(res, applied)
          ()
        }
      }
      // the union corpus: base + every committed append of the serving
      // generation — the index rows ARE (neighbor_id, cv) pairs
      val corpus = IndexDir.dataPaths(cur)
        .map(p => spark.read.parquet(p)).reduce(_ unionByName _)
        .select(col("neighbor_id"), col("cv"))
      KMeansIVF.writeIndex(corpus, "neighbor_id", "cv", s"$root/$next",
        nClusters, iters, sampleCap)
      IndexDir.atomicWrite(currentPath(root), next) // the one atomic switch point
      s"$root/$next"
    }

  /** [[rebuild]] iff the drift gate said so; None = verdict was clean. */
  def rebuildIfDrifted(spark: SparkSession, root: String,
                       verdict: KMeansIVF.AppendResult,
                       nClusters: Int = 10, iters: Int = 4,
                       sampleCap: Long = 10000): Option[String] =
    if (verdict.rebuild) Some(rebuild(spark, root, nClusters, iters, sampleCap))
    else None

  /** Delete retired (non-current) generations. Run only once in-flight
    * probes against the old generation have drained — the isolation
    * argument holds because vacuum and probe-starts never overlap on a
    * retired name. */
  def vacuum(root: String): Seq[String] = vacuum(root, None)

  /** As [[vacuum]]; `appliedOlderThanMs` additionally sweeps `applied/`
    * exactly-once records whose last-modified age exceeds the horizon.
    * SAFETY CONTRACT: set it strictly above the longest possible replay
    * window (the streaming checkpoint bounds it — a batch can only
    * replay until its offsets commit), or a swept marker re-admits a
    * replayed batch. Without retention a long-running ingest accumulates
    * one marker file per micro-batch forever. */
  def vacuum(root: String, appliedOlderThanMs: Option[Long]): Seq[String] =
    IndexDir.withLock(lockPath(root), "vacuum") {
      val cur = java.nio.file.Paths.get(resolve(root)).getFileName.toString
      val dir = new java.io.File(root)
      val dead = dir.listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("gen-") && f.getName != cur)
      dead.foreach(graft.TempDirs.deleteRecursively)
      appliedOlderThanMs.foreach { horizon =>
        val cutoff = System.currentTimeMillis() - horizon
        val ap = new java.io.File(root, "applied")
        if (ap.isDirectory)
          ap.listFiles().filter(_.lastModified() < cutoff)
            .foreach(f => { java.nio.file.Files.deleteIfExists(f.toPath); () })
      }
      dead.map(_.getName)
    }

  /** THE WIRED LOOP — continuous vector ingest with drift-triggered
    * refit: each micro-batch appends via [[append]] (exactly-once across
    * generations via the `applied/` record), surfaces its verdict, and —
    * when `autoRebuild` and the gate fires — runs [[rebuild]] IN the batch
    * before the checkpoint commits, so the stream itself resumes appending
    * against the new base on the next batch. Live probers are safe
    * throughout (the isolation argument above); they pick up the new
    * generation at their next `resolve`. Empty micro-batches are skipped
    * (no drift statistic). */
  def startAppendStream(
      stream: DataFrame, root: String, idCol: String, vecCol: String,
      checkpointDir: String,
      onVerdict: (KMeansIVF.AppendResult, Long) => Unit,
      autoRebuild: Boolean = false,
      nClusters: Int = 10, iters: Int = 4, sampleCap: Long = 10000,
      lockWaitMs: Long = 600000L)
    : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // bounded lock wait: an out-of-band rebuild/vacuum stalls the
          // batch instead of killing the query; a genuinely dead owner
          // still fails loudly after the deadline
          val v = append(batch, idCol, vecCol, root, s"s$batchId", lockWaitMs)
          onVerdict(v, batchId)
          if (autoRebuild && v.rebuild) {
            rebuild(batch.sparkSession, root, nClusters, iters, sampleCap)
            ()
          }
        }
      }
      .start()
}
