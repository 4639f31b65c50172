package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, input_file_name, lit, max, min, sum, when}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Snapshot-isolated parquet table with optimistic-concurrency commits —
  * the staging→production promote of the reference pipeline
  * (ror_dag.py's staged write + promote, SURVEY §2 K2/K3) generalized to
  * the manifest pattern of modern lake formats (Iceberg/Delta-style,
  * reimplemented from first principles; no external deps):
  *
  *  - **Data files are immutable.** Every commit writes its rows to a fresh
  *    `data-<uuid>/` directory; nothing ever rewrites a live file.
  *  - **A snapshot is a manifest file** (`_snapshots/v<NNNNNNNN>.manifest`)
  *    listing exactly the data files visible at that version. Readers list
  *    the snapshot dir, pick a version, and read only its files — a reader
  *    holding version N is unaffected by any later commit (snapshot
  *    isolation), and old versions remain queryable (time travel).
  *  - **Commit = one atomic file creation.** The manifest is staged to a
  *    temp file and published with `Files.createLink` — hard-link creation
  *    atomically fails if the target version exists, which IS the
  *    compare-and-swap: a lost race recomputes against the new latest and
  *    retries at the next version. A writer that dies mid-commit leaves
  *    only an invisible temp file and orphan data files that no manifest
  *    references — readers can never observe a partial commit. (On an
  *    object store the same protocol rides conditional-put /
  *    rename-without-overwrite; the local form uses the POSIX primitive.)
  *  - **Compaction is just another commit**: rewrite the current rows into
  *    fewer files and publish as a `replace` snapshot. Concurrent readers
  *    of older versions still see the old files, which is why compaction
  *    never deletes — vacuuming unreferenced files is a separate offline
  *    step gated on "no reader older than X".
  *
  * Scale posture: the manifest holds file PATHS, not data — a 100 TB table
  * is a few thousand lines of text; commit cost is O(files), independent of
  * row count. Readers plan directly from the file list, so partition
  * pruning/pushdown behave exactly as a plain parquet read.
  */
object SnapshotTable {

  private val SnapDirName = "_snapshots"
  private val ManifestRe = "v(\\d{8})\\.manifest".r
  private val DeadRe = "v(\\d{8})\\.dead".r
  private val TxnOkRe = "v(\\d{8})\\.txnok".r

  /** One table version: the exact set of data files visible at `version`.
    * `meta` carries the key=value header lines (op, stream watermarks). */
  final case class Snapshot(
      version: Long, op: String, files: Seq[String], meta: Map[String, String])

  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  def init(tableDir: String): Unit = {
    Files.createDirectories(Paths.get(tableDir, SnapDirName))
    ()
  }

  private[sources] def snapDir(tableDir: String): Path = Paths.get(tableDir, SnapDirName)
  private[sources] def manifestPath(tableDir: String, v: Long): Path =
    snapDir(tableDir).resolve(f"v$v%08d.manifest")
  private[sources] def deadPath(tableDir: String, v: Long): Path =
    snapDir(tableDir).resolve(f"v$v%08d.dead")
  private[sources] def txnOkPath(tableDir: String, v: Long): Path =
    snapDir(tableDir).resolve(f"v$v%08d.txnok")
  private[sources] def openTxnPath(tableDir: String): Path =
    snapDir(tableDir).resolve("open.txn")

  /** Every CLAIMED version slot, ascending — committed, transaction-pending
    * and aborted-dead alike. This is the numbering authority (slot numbers
    * are never reused: an aborted transaction's manifest stays on disk with
    * a `.dead` sidecar); [[versions]] is the VISIBILITY authority. */
  private[sources] def rawVersions(tableDir: String): Seq[Long] = {
    if (!Files.isDirectory(snapDir(tableDir))) return Seq.empty
    val s = Files.list(snapDir(tableDir))
    try s.iterator().asScala
      .flatMap(p => p.getFileName.toString match {
        case ManifestRe(n) => Some(n.toLong)
        case _             => None
      })
      .toSeq.sorted
    finally s.close()
  }

  /** Writer-side transaction guard + slot numbering, shared by every
    * manifest writer that is not itself transactional (commit, restore,
    * branch merge): refuses while a multi-table transaction holds the
    * table's lock OR an unresolved pending slot exists above the visible
    * tip (the lock could be taken between a caller's earlier check and
    * this listing — re-validating here closes the check-then-act window:
    * for a rival commit to land ABOVE an invisible pending manifest its
    * slot number must exceed the pending slot, which means its raw
    * listing contained it, which means this scan refuses; a same-slot
    * race is settled by the CAS itself). Returns one past the last
    * CLAIMED slot — dead tombstones included, because `visibleTip + 1`
    * would collide with an abort tombstone forever. */
  private def nextSlotGuarded(tableDir: String, visibleTip: Long): Long = {
    if (Files.exists(openTxnPath(tableDir)))
      throw new ConcurrentCommitException(
        s"a multi-table transaction is open on $tableDir — commit or abort it first")
    val raw = rawVersions(tableDir)
    val vis = versions(tableDir).toSet
    val pending = raw.filter(sv => sv > visibleTip && !vis.contains(sv) &&
      !Files.exists(deadPath(tableDir, sv)))
    if (pending.nonEmpty)
      throw new ConcurrentCommitException(
        s"unresolved transaction slot(s) ${pending.mkString(",")} above the " +
          s"visible tip of $tableDir — resolve the transaction first")
    math.max(visibleTip, raw.lastOption.getOrElse(0L)) + 1
  }

  /** All VISIBLE versions, ascending (empty if the table doesn't exist).
    * Aborted multi-table-transaction slots (`.dead` sidecar) are excluded;
    * while a transaction is OPEN on this table (`open.txn` present — the
    * per-table txn lock [[SnapshotTxn.begin]] takes), trailing manifests
    * whose `txn=` is not yet committed are excluded too, so an uncommitted
    * or crashed multi-table transaction is invisible to every reader until
    * its ONE atomic point — the txn-dir marker — exists. The content check
    * runs only while `open.txn` exists; once a transaction finalizes (the
    * `.txnok` sidecar freezes committed-ness independent of the marker
    * file's later lifecycle) the listing is pure filename work again. */
  def versions(tableDir: String): Seq[Long] = {
    if (!Files.isDirectory(snapDir(tableDir))) return Seq.empty
    val s = Files.list(snapDir(tableDir))
    val (slots, deads, txnOks, openTxn) = {
      var sl = List.empty[Long]; var dd = Set.empty[Long]
      var ok = Set.empty[Long]; var open = false
      try s.iterator().asScala.foreach(p => p.getFileName.toString match {
        case ManifestRe(n) => sl ::= n.toLong
        case DeadRe(n)     => dd += n.toLong
        case TxnOkRe(n)    => ok += n.toLong
        case "open.txn"    => open = true
        case _             =>
      })
      finally s.close()
      (sl, dd, ok, open)
    }
    var vs = slots.filterNot(deads).sorted
    if (openTxn) {
      // the txn lock serializes writers, so only TRAILING slots can be
      // unresolved — walk down until the first visible manifest
      def visible(v: Long): Boolean = txnOks(v) || {
        val m = snapshot(tableDir, v).meta
        m.get("txn") match {
          case None       => true
          case Some(txid) => m.get("txnd")
            .exists(d => SnapshotTxn.decisionOf(d, txid).contains("commit"))
        }
      }
      while (vs.nonEmpty && !visible(vs.last)) vs = vs.init
    }
    vs
  }

  def latestVersion(tableDir: String): Option[Long] = versions(tableDir).lastOption

  def snapshot(tableDir: String, v: Long): Snapshot = {
    // header lines are key=value; staged data paths (data-<uuid>/part-*)
    // never contain '=', so the split is unambiguous
    val lines = Files.readAllLines(manifestPath(tableDir, v)).asScala.toSeq
    val meta = lines.takeWhile(_.contains("=")).map { l =>
      val Array(k, value) = l.split("=", 2); k -> value
    }.toMap
    Snapshot(v, meta.getOrElse("op", "?"), lines.dropWhile(_.contains("=")), meta)
  }

  /** The `ts=` commit stamp (millis) of version `v` WITHOUT materializing
    * the manifest's file list: header key=value lines precede the data
    * paths, so the streamed read stops at the first non-header line —
    * O(header) per manifest, never O(files). TIMESTAMP AS OF resolution
    * walks every version of a table, and on a long-history table each
    * manifest lists every live file, so a full-manifest parse per version
    * would be O(versions × files). */
  private[sources] def commitTsOf(tableDir: String, v: Long): Option[Long] = {
    val s = Files.lines(manifestPath(tableDir, v))
    try s.iterator().asScala
      .takeWhile(_.contains("="))
      .collectFirst { case l if l.startsWith("ts=") => l.substring(3).toLong }
    finally s.close()
  }

  /** Append `df` as a new snapshot; returns the committed version.
    * With `zoneCol`, per-file min/max zone stats for that column are
    * computed from the staged files (one tiny scan) and recorded in the
    * manifest — [[readRange]] then prunes files from metadata alone,
    * before any footer is opened (the Iceberg-style file-stats idea,
    * composed with [[ZoneMapIndex]]'s layout caveat: skipping power comes
    * from range-clustered writes). */
  def commitAppend(df: DataFrame, tableDir: String, zoneCol: Option[String] = None): Long =
    commit(df, tableDir, replace = false, zoneCol = zoneCol)

  /** Replace the table contents with `df` as a new snapshot. */
  def commitReplace(df: DataFrame, tableDir: String, zoneCol: Option[String] = None): Long =
    commit(df, tableDir, replace = true, zoneCol = zoneCol)

  /** Replace the table with a BUCKETED layout: rows are hash-clustered into
    * `nBuckets` files on `bucketCol` (sorted within each bucket) and the
    * spec is recorded in the manifest — [[readBucketed]] then exposes the
    * snapshot as a bucketed scan, so joins/aggregations between co-bucketed
    * snapshots on that key run with ZERO exchanges (pay the shuffle once at
    * write time, never again per read — the join-ready layout for
    * repeatedly-joined 100 TB tables; `BucketedJoinSpec` proves the plan
    * shape for plain tables, `SnapshotBucketedSpec` across a snapshot
    * commit/read cycle).
    *
    * The bucket spec is valid for exactly the file set this replace
    * commits, so it deliberately does NOT survive other commit kinds: an
    * append/upsert/deleteWhere produces a manifest without `bucketcol`,
    * and [[readBucketed]] fails loudly instead of claiming a clustering
    * the mixed file set no longer has (re-replace to restore it).
    * Snapshot semantics are untouched — the staged dir, CAS manifest,
    * time travel and vacuum behave exactly as any replace commit. */
  def commitReplaceBucketed(
      df: DataFrame, tableDir: String, bucketCol: String, nBuckets: Int): Long = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    init(tableDir)
    val spark = df.sparkSession
    val dataSub = s"data-${java.util.UUID.randomUUID().toString}"
    val stagePath = Paths.get(tableDir, dataSub).toString
    // Spark only writes the bucket-id file naming through the catalog
    // writer, so stage via a throwaway EXTERNAL table pointed at the data
    // dir; dropping it keeps the files (catalog entry only)
    val stageTbl = s"graft_bucket_stage_${java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong())}"
    df.write.mode(SaveMode.ErrorIfExists)
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .option("path", stagePath)
      .saveAsTable(stageTbl)
    spark.sql(s"DROP TABLE `$stageTbl`")
    commit(df, tableDir, replace = true,
      extraMeta = Seq(s"bucketcol=$bucketCol", s"bucketn=$nBuckets"),
      stagedDataSub = Some(dataSub))
  }

  /** Compact a BUCKETED table without losing its layout: rewrites the
    * current rows as a fresh bucketed replace carrying the latest
    * manifest's own bucket spec (a plain [[compact]] stages through the
    * path writer and would drop both the spec and the bucket-id file
    * naming). Fails loudly if the latest version has no spec. */
  def compactBucketed(spark: SparkSession, tableDir: String): Long = {
    val snap = latestSnapshot(tableDir)
    val bc = snap.meta.getOrElse("bucketcol", throw new IllegalStateException(
      s"$tableDir@v${snap.version} has no bucket spec to preserve — use compact()"))
    val n = snap.meta("bucketn").toInt
    commitReplaceBucketed(read(spark, tableDir), tableDir, bc, n)
  }

  /** Replace the table with an SPJ (storage-partitioned-join) layout:
    * rows land in `b<bucket>/` dirs by `pmod(key, n)` plus the
    * [[SpjTable]] sidecar, and the spec rides the manifest. [[readSpj]]
    * then serves the snapshot through the DataSourceV2 connector, whose
    * scan reports KeyGroupedPartitioning — joins between co-committed
    * snapshots on the key run with ZERO exchanges and, unlike
    * [[readBucketed]], no session-catalog table registration at all (the
    * DSv2 path also survives into any session that can see the dir).
    * Same invalidation contract as the bucketed variant: only this
    * commit kind records the spec; append/upsert manifests drop it and
    * [[readSpj]] fails loudly. */
  def commitReplaceSpj(
      df: DataFrame, tableDir: String, keyCol: String, nBuckets: Int): Long = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    init(tableDir)
    val dataSub = s"data-${java.util.UUID.randomUUID().toString}"
    SpjTable.write(df, Paths.get(tableDir, dataSub).toString, keyCol, nBuckets)
    commit(df, tableDir, replace = true,
      extraMeta = Seq(s"spjkey=$keyCol", s"spjn=$nBuckets"),
      stagedDataSub = Some(dataSub))
  }

  /** A snapshot as an SPJ scan (the version's commit must be a
    * [[commitReplaceSpj]]): resolves the staged dir through a
    * [[GraftSpjCatalog]] keyed by the table dir, so the scan reports its
    * bucket clustering and co-committed snapshot joins skip both
    * exchanges (requires `spark.sql.sources.v2.bucketing.enabled`).
    * Data-identical to [[readVersion]]; only the reported partitioning
    * differs. The catalog identifier is the per-commit staged-dir name,
    * so time travel across versions can never serve a stale layout. */
  def readSpj(
      spark: SparkSession, tableDir: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val snap = asOfVersion.map(snapshot(tableDir, _))
      .getOrElse(latestSnapshot(tableDir))
    snap.meta.getOrElse("spjkey", throw new IllegalStateException(
      s"$tableDir@v${snap.version} has no SPJ spec — only commitReplaceSpj " +
        "records one, and any other commit kind invalidates it"))
    val dirs = snap.files.map(_.takeWhile(_ != '/')).distinct
    require(dirs.length == 1,
      s"SPJ snapshot must reference a single staged dir, got $dirs")
    val catName = "graft_spj_" + java.lang.Long.toHexString(
      graft.functions.Md5LongUtil.hashBytes(
        Paths.get(tableDir).toAbsolutePath.toString.getBytes("UTF-8")))
    spark.conf.set(s"spark.sql.catalog.$catName", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse",
      Paths.get(tableDir).toAbsolutePath.toString)
    spark.table(s"`$catName`.`${dirs.head}`")
  }

  /** Deterministic catalog name for a bucketed snapshot scan (one per
    * table-dir × version — a later version never aliases a stale entry). */
  private[sources] def bucketTableName(tableDir: String, version: Long): String =
    s"graft_snap_b_${java.lang.Integer.toHexString(tableDir.hashCode)}_v$version"

  /** The latest snapshot as a BUCKETED scan (requires the latest commit to
    * be a [[commitReplaceBucketed]]): registers an external catalog table
    * over the snapshot's staged dir carrying the recorded bucket spec, so
    * Spark's planner sees the hash-clustering and elides the exchange (and
    * sort) on joins between co-bucketed snapshots. Data-identical to
    * [[read]]; only the reported partitioning differs. */
  def readBucketed(spark: SparkSession, tableDir: String): DataFrame = {
    val snap = latestSnapshot(tableDir)
    val bc = snap.meta.getOrElse("bucketcol", throw new IllegalStateException(
      s"$tableDir@v${snap.version} has no bucket spec — only commitReplaceBucketed " +
        "records one, and any other commit kind invalidates it (mixed file sets " +
        "are not hash-clustered); re-replace with a bucketed commit"))
    val n = snap.meta("bucketn").toInt
    val dirs = snap.files.map(_.takeWhile(_ != '/')).distinct
    require(dirs.length == 1,
      s"bucketed snapshot must reference a single staged dir, got $dirs")
    val schema = versionSchema(snap).getOrElse(throw new IllegalStateException(
      s"bucketed read needs the version's recorded schema"))
    val tbl = bucketTableName(tableDir, snap.version)
    val loc = Paths.get(tableDir, dirs.head).toUri.toString
    // an existing entry is reused ONLY if it points at this snapshot's
    // staged dir: a re-created table restarts versions at 1 (and 32-bit
    // dir-hash collisions exist), so a name match alone could silently
    // serve a stale registration's files
    val stale = spark.catalog.tableExists(tbl) && {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      meta.location.toString.stripSuffix("/") != loc.stripSuffix("/")
    }
    if (stale) spark.sql(s"DROP TABLE `$tbl`")
    if (stale || !spark.catalog.tableExists(tbl)) {
      spark.sql(s"CREATE TABLE $tbl (${schema.toDDL}) USING parquet " +
        s"CLUSTERED BY (`$bc`) SORTED BY (`$bc`) INTO $n BUCKETS LOCATION '$loc'")
    }
    spark.table(tbl)
  }

  /** Manifest-pruned range read on the table's zone column: skip every
    * file whose recorded [min,max] misses [lo,hi] (files without stats are
    * always candidates — safe overapproximation), then apply the exact
    * predicate. Value-identical to `read().filter(between)` always. */
  def readRange(spark: SparkSession, tableDir: String, lo: Double, hi: Double): DataFrame = {
    val snap = latestSnapshot(tableDir)
    val zc = snap.meta.getOrElse("zonecol",
      throw new IllegalStateException(s"$tableDir has no zone column recorded"))
    val cand = candidatesOf(snap, lo, hi)
    val pred = col(zc).cast("double").between(lo, hi)
    if (cand.isEmpty)
      readVersion(spark, tableDir, snap.version).filter(pred).limit(0)
    else
      applyDvIfAny(spark, tableDir, snap,
        spark.read.parquet(cand.map(f => Paths.get(tableDir, f).toString): _*))
        .filter(pred)
  }

  /** Candidate files [[readRange]] would scan — exposed for tests/ops. */
  def rangeCandidates(tableDir: String, lo: Double, hi: Double): Seq[String] =
    candidatesOf(latestSnapshot(tableDir), lo, hi)

  private def latestSnapshot(tableDir: String): Snapshot =
    snapshot(tableDir, latestVersion(tableDir).getOrElse(
      throw new IllegalStateException(s"no snapshots in $tableDir")))

  // the ONE pruning predicate (readRange and rangeCandidates must agree)
  private def candidatesOf(snap: Snapshot, lo: Double, hi: Double): Seq[String] =
    snap.files.filter { f =>
      snap.meta.get(s"zone:$f") match {
        case Some(v) =>
          val Array(mn, mx) = v.split(",")
          mx.toDouble >= lo && mn.toDouble <= hi
        case None => true
      }
    }

  /** Rewrite the current rows into `numFiles` files (small-file compaction)
    * and publish as a replace snapshot. Row-preserving by construction —
    * including the zone index: a zone-indexed table recomputes its stats
    * for the compacted files (dropping them would break readRange after a
    * routine maintenance step). */
  def compact(spark: SparkSession, tableDir: String, numFiles: Int): Long = {
    val zc = latestSnapshot(tableDir).meta.get("zonecol")
    commitReplace(read(spark, tableDir).repartition(numFiles), tableDir, zoneCol = zc)
  }

  /** OPTIMIZE-style clustered compaction: rewrite the table range-sorted
    * by `clusterCol` into `numFiles` files and record that column's zone
    * stats. Plain [[compact]] preserves arrival order — its per-file
    * min/max spans stay wide and [[readRange]] prunes nothing; after
    * clustering, file spans are disjoint, so a range read touches
    * ~selectivity of the files. The layout-determines-skipping lesson
    * ([[ZoneMapIndex]]) made into a table maintenance action. */
  def compactClustered(spark: SparkSession, tableDir: String,
                       clusterCol: String, numFiles: Int): Long =
    commitReplace(
      read(spark, tableDir)
        .repartitionByRange(numFiles, col(clusterCol))
        .sortWithinPartitions(clusterCol),
      tableDir, zoneCol = Some(clusterCol))

  /** OPTIMIZE ZORDER BY (a, b): rewrite the table Morton-ordered on the
    * two columns' 16-bit min/max-scaled ranks and record BOTH columns'
    * per-file zone stats. Single-column clustering ([[compactClustered]])
    * serves only its own column — a range read on the other dimension
    * prunes nothing; after z-ordering, file bounding boxes tile the 2-D
    * space, so range reads on EITHER column (and boxes on both, via
    * [[readRangeMulti]]) skip ~√selectivity of the files. The scaling is
    * layout-only (stats come from the real values), and `colA` doubles as
    * the legacy single zone column so [[readRange]] keeps working. */
  def compactZOrder(spark: SparkSession, tableDir: String,
                    colA: String, colB: String, numFiles: Int): Long =
    compactByCurve(spark, tableDir, colA, colB, numFiles,
      graft.functions.ZOrder.interleave)

  /** Shared body of the two space-filling-curve compactions: scale both
    * columns to 16-bit ranks, lay out by the curve key, record both
    * columns' zone stats. The curve is the only difference. */
  private def compactByCurve(spark: SparkSession, tableDir: String,
                             colA: String, colB: String, numFiles: Int,
                             curve: (Column, Column) => Column): Long = {
    val df = read(spark, tableDir)
    val mm = df.agg(
      min(col(colA).cast("double")).as("__mna"),
      max(col(colA).cast("double")).as("__mxa"),
      min(col(colB).cast("double")).as("__mnb"),
      max(col(colB).cast("double")).as("__mxb"))
    def scale(c: Column, mn: Column, mx: Column): Column =
      when(mx === mn, lit(0L)).otherwise(
        ((c.cast("double") - mn) / (mx - mn) * 65535.0).cast("long"))
    val laid = df.crossJoin(broadcast(mm))
      .withColumn("__c", curve(
        scale(col(colA), col("__mna"), col("__mxa")),
        scale(col(colB), col("__mnb"), col("__mxb"))))
      .repartitionByRange(numFiles, col("__c"))
      .sortWithinPartitions("__c")
      .drop("__c", "__mna", "__mxa", "__mnb", "__mxb")
    commit(laid, tableDir, replace = true,
      zoneCol = Some(colA), multiZoneCols = Seq(colA, colB))
  }

  /** OPTIMIZE HILBERT BY (a, b): [[compactZOrder]] with the Hilbert curve
    * instead of Morton. Consecutive Hilbert positions are always
    * grid-adjacent (Morton jumps diagonals at power-of-two boundaries),
    * so the row-count-driven file cuts — which land at arbitrary curve
    * offsets, exactly where Morton's jumps inflate bounding boxes — get
    * tighter per-file 2-D bounds at the same file count
    * (`HilbertSpec` measures the win). Same zone-stat recording, same
    * [[readRange]]/[[readRangeMulti]] pruning contract. */
  def compactHilbert(spark: SparkSession, tableDir: String,
                     colA: String, colB: String, numFiles: Int): Long =
    compactByCurve(spark, tableDir, colA, colB, numFiles,
      (a, b) => graft.functions.Hilbert.index(a, b, bits = 16))

  /** Manifest-pruned BOX read: skip every file whose recorded per-column
    * [min,max] misses any of the requested `bounds` (col, lo, hi); files
    * without stats for a bounded column stay candidates — safe
    * overapproximation. Value-identical to `read().filter(AND of
    * betweens)` always. Requires a [[compactZOrder]]-style commit that
    * recorded multi-column stats. */
  def readRangeMulti(spark: SparkSession, tableDir: String,
                     bounds: Seq[(String, Double, Double)]): DataFrame = {
    require(bounds.nonEmpty, "readRangeMulti needs at least one bound")
    val snap = latestSnapshot(tableDir)
    val cand = candidatesMulti(snap, bounds)
    val pred = bounds.map { case (c, lo, hi) =>
      col(c).cast("double").between(lo, hi) }.reduce(_ && _)
    if (cand.isEmpty)
      readVersion(spark, tableDir, snap.version).filter(pred).limit(0)
    else
      applyDvIfAny(spark, tableDir, snap,
        spark.read.parquet(cand.map(f => Paths.get(tableDir, f).toString): _*))
        .filter(pred)
  }

  /** Candidate files [[readRangeMulti]] would scan — exposed for tests. */
  def rangeCandidatesMulti(tableDir: String,
                           bounds: Seq[(String, Double, Double)]): Seq[String] =
    candidatesMulti(latestSnapshot(tableDir), bounds)

  private def candidatesMulti(
      snap: Snapshot, bounds: Seq[(String, Double, Double)]): Seq[String] =
    snap.files.filter { f =>
      bounds.forall { case (c, lo, hi) =>
        snap.meta.get(s"zone:$c:$f") match {
          case Some(v) =>
            val Array(mn, mx) = v.split(",")
            mx.toDouble >= lo && mn.toDouble <= hi
          case None => true
        }
      }
    }

  /** Exactly-once streaming append: commits a micro-batch tagged with its
    * (streamId, batchId); a batch at-or-below the stream's committed
    * watermark is a checkpoint replay and is skipped (None) — the previous
    * attempt's manifest is already durable, so re-running it would
    * double-append. Check-then-commit is safe here because a Structured
    * Streaming query has ONE driver per stream id and replays are
    * sequential; concurrent commits from OTHER writers/streams interleave
    * through the normal CAS. */
  def commitStreamBatch(
      df: DataFrame, tableDir: String, streamId: String, batchId: Long): Option[Long] = {
    init(tableDir)
    if (lastStreamBatch(tableDir, streamId).exists(_ >= batchId)) None
    else Some(commit(df, tableDir, replace = false,
      extraMeta = Seq(s"stream:$streamId=$batchId")))
  }

  /** Highest batch id committed by `streamId` (its exactly-once watermark).
    * Watermarks carry forward into every manifest, so the LATEST snapshot
    * alone answers this — O(1), and vacuum-proof (dropping the manifest
    * that originally recorded a watermark cannot lose it). */
  def lastStreamBatch(tableDir: String, streamId: String): Option[Long] =
    latestVersion(tableDir)
      .flatMap(v => snapshot(tableDir, v).meta.get(s"stream:$streamId"))
      .map(_.toLong)

  /** `foreachBatch` sink: every micro-batch becomes one snapshot commit,
    * exactly-once via the batch-id watermark + checkpointed source offsets.
    * Each committed version is an atomically-visible, time-travelable unit
    * — a reader never sees half a micro-batch. */
  def startStream(
      input: DataFrame,
      tableDir: String,
      checkpointDir: String,
      streamId: String): org.apache.spark.sql.streaming.StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitStreamBatch(batch, tableDir, streamId, batchId)
        ()
      }
      .start()

  /** MERGE / upsert by key: rows of `updates` replace same-key rows
    * anywhere in the table; update keys the table has never seen are
    * inserts. COPY-ON-WRITE at FILE granularity — one column-pruned scan
    * of the key columns finds the files that actually contain a matched
    * key, only those are rewritten (matched rows swapped for their update
    * row), and every untouched file carries into the new manifest BY
    * REFERENCE: merging one hot key into a 100 TB table rewrites one
    * file, not the table.
    *
    * Concurrency is OPTIMISTIC with conflict DETECTION, not blind retry:
    * the commit asserts the version the rewrite was derived from, and a
    * concurrent commit landing in between aborts with
    * [[ConcurrentCommitException]] — the rewritten rows would silently
    * resurrect the racer's replaced data otherwise (the lost-update
    * anomaly MERGE exists to prevent). Callers re-read and re-merge.
    *
    * `updates` must carry the key columns; other columns resolve by name
    * against the table schema (missing ones null-fill, like any
    * schema-evolving append). Duplicate keys WITHIN `updates` are the
    * caller's bug — both rows land.
    */
  def upsert(spark: SparkSession, tableDir: String, updates: DataFrame,
             keys: Seq[String], asOfVersion: Option[Long] = None): Long = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    asOfVersion.orElse(latestVersion(tableDir)) match {
      case None => commitAppend(updates, tableDir)
      case Some(v) =>
        // `asOfVersion` pins the snapshot the merge derives from (defaults
        // to latest-at-entry) — the commit asserts the table has not moved
        // past it, so a caller that read at version v gets serializable
        // read-merge-write or a clean abort
        val snap = snapshot(tableDir, v)
        requireNoDv(snap, "upsert")
        val schemaOpt = versionSchema(snap)
        def readFiles(rel: Seq[String]): DataFrame = {
          val paths = rel.map(f => Paths.get(tableDir, f).toString)
          schemaOpt match {
            case Some(sc) => spark.read.schema(asNullable(sc)).parquet(paths: _*)
            case None     => spark.read.parquet(paths: _*)
          }
        }
        // the pruning scan reads ONLY the key columns (columnar projection)
        val keyCols = keys.map(col)
        val touchedPaths = readFiles(snap.files)
          .select(input_file_name().as("__file") +: keyCols: _*)
          .join(updates.select(keyCols: _*).distinct(), keys, "left_semi")
          .select(col("__file")).distinct()
          .collect().map(_.getString(0)).toSet
        // input_file_name yields URIs; manifest entries are
        // tableDir-relative — match on the path suffix, anchored at a
        // path-segment boundary so one file's relative path can never
        // suffix-match a DIFFERENT file's URI (e.g. "1/x.parquet" vs
        // ".../11/x.parquet")
        val touched = snap.files.filter(f => touchedPaths.exists(_.endsWith("/" + f)))
        val newRows =
          if (touched.isEmpty) updates
          else readFiles(touched).join(updates.select(keyCols: _*).distinct(),
              keys, "left_anti")
            .unionByName(updates, allowMissingColumns = true)
        commit(newRows, tableDir, replace = false,
          dropFiles = touched.toSet, expectedVersion = Some(v))
    }
  }

  /** Row-level DELETE by predicate — the right-to-be-forgotten path.
    * File-granular copy-on-write like [[upsert]]: one scan (predicate
    * pushed to parquet, columns pruned to the predicate's inputs) finds
    * the files that actually hold a matching row; only those are
    * rewritten without their matching rows, everything else carries into
    * the new manifest BY REFERENCE. Deleting one user from a 100 TB table
    * rewrites the files that mention them, not the table.
    *
    * NULL predicate results keep the row (SQL DELETE semantics: only
    * rows where the predicate is TRUE are removed). Same optimistic
    * concurrency as upsert — the commit asserts the derivation version
    * and aborts with [[ConcurrentCommitException]] if the table moved.
    * A predicate matching nothing commits nothing and returns the
    * current version. Note: deleted rows remain readable via time travel
    * until [[vacuum]] drops the pre-delete versions — a real purge is
    * deleteWhere + vacuum.
    */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  predicate: org.apache.spark.sql.Column,
                  asOfVersion: Option[Long] = None): Long = {
    val v = asOfVersion.orElse(latestVersion(tableDir)).getOrElse(
      throw new IllegalArgumentException(s"deleteWhere on empty table $tableDir"))
    val snap = snapshot(tableDir, v)
    requireNoDv(snap, "deleteWhere")
    val schemaOpt = versionSchema(snap)
    def readFiles(rel: Seq[String]): DataFrame = {
      val paths = rel.map(f => Paths.get(tableDir, f).toString)
      schemaOpt match {
        case Some(sc) => spark.read.schema(asNullable(sc)).parquet(paths: _*)
        case None     => spark.read.parquet(paths: _*)
      }
    }
    val touchedPaths = readFiles(snap.files)
      .filter(predicate)
      .select(input_file_name().as("__file")).distinct()
      .collect().map(_.getString(0)).toSet
    if (touchedPaths.isEmpty) return v
    // path-segment-anchored suffix match (the upsert URI note)
    val touched = snap.files.filter(f => touchedPaths.exists(_.endsWith("/" + f)))
    val kept = readFiles(touched)
      .filter(!org.apache.spark.sql.functions.coalesce(predicate, lit(false)))
    commit(kept, tableDir, replace = false,
      dropFiles = touched.toSet, expectedVersion = Some(v))
  }

  /** RESTORE — roll the table back to `version`'s contents as a NEW
    * commit referencing that version's files BY REFERENCE (zero copy, the
    * Delta RESTORE semantics): history stays intact, the bad commits
    * remain time-travelable until vacuum, and readers pinned to them are
    * unaffected. Carried from the RESTORED version: schema, zone stats,
    * deletion vector, bucket/SPJ layout specs — its whole physical truth.
    * Carried from the CURRENT version: stream watermarks (exactly-once
    * bookkeeping must survive a rollback — resetting it would double-apply
    * already-acked batches) and CHECK constraints, which are RE-VALIDATED
    * against the restored rows (a constraint added after `version` may not
    * hold on them — loud abort, never an unchecked publish). Single-shot
    * CAS: a concurrent commit aborts the restore (the caller re-reads and
    * decides — blind retry could roll back someone else's write). */
  def restoreVersion(spark: SparkSession, tableDir: String, version: Long): Long = {
    val cur = latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"restore on empty table $tableDir"))
    if (version == cur) return cur
    val snap = snapshot(tableDir, version) // throws if vacuumed
    val curSnap = snapshot(tableDir, cur)
    val checks = curSnap.meta.collect {
      case (k, p) if k.startsWith("check:") => k.stripPrefix("check:") -> p }
    if (checks.nonEmpty)
      validateChecks(readVersion(spark, tableDir, version), checks.toMap,
        s"restoring $tableDir to v$version")
    val dynamic = curSnap.meta.view.filterKeys(k =>
      k.startsWith("stream:") || k.startsWith("check:")).toMap
    val carried = snap.meta.view.filterKeys(k =>
      !(k.startsWith("stream:") || k.startsWith("check:") ||
        k == "version" || k == "op" || k == "restored_from")).toMap ++ dynamic
    val v = nextSlotGuarded(tableDir, cur)
    val body = (Seq(s"version=$v", "op=restore", s"restored_from=$version")
      ++ carried.toSeq.sortBy(_._1).map { case (k, value) => s"$k=$value" }
      ++ snap.files).mkString("", "\n", "\n")
    val tmp = Files.createTempFile(snapDir(tableDir), s".v$v-", ".tmp")
    Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try {
      Files.createLink(manifestPath(tableDir, v), tmp)
      Files.deleteIfExists(tmp)
      v
    } catch {
      case _: FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new ConcurrentCommitException(
          s"table $tableDir moved past v$cur during restore — re-read and retry")
    }
  }

  // ---- CHECK constraints: commit-time data contracts ---------------------

  /** Record a CHECK constraint (Delta-style): `predicateSql` must hold for
    * every row of every future commit — enforcement happens INSIDE
    * [[commit]], so upserts, CDC applies, compactions and stream batches
    * all pass through it; a violating commit aborts before any manifest is
    * published (the staged dir is swept as an orphan). SQL CHECK
    * semantics: a row violates only when the predicate evaluates to FALSE
    * — NULL passes (add an IS NOT NULL constraint to forbid nulls).
    * The CURRENT snapshot is validated first: a constraint the existing
    * data already breaks is refused (it would make every future commit of
    * carried files a lie). Constraints ride the manifest meta
    * (`check:<name>=<sql>`, carried through every commit kind) and are
    * versioned like everything else — time travel to before the add shows
    * a table without it. */
  def addConstraint(spark: SparkSession, tableDir: String,
                    name: String, predicateSql: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be a [A-Za-z0-9_]+ token, got '$name'")
    // the manifest is a LINE-oriented key=value grammar: a newline inside
    // the predicate would split the meta line and turn everything sorted
    // after it (schema, watermarks, zone stats) into phantom file entries
    require(!predicateSql.exists(c => c == '\n' || c == '\r'),
      "constraint predicate must be a single line (no newlines)")
    val v = latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"addConstraint on empty table $tableDir"))
    val bad = readVersion(spark, tableDir, v)
      .filter(!coalesce(org.apache.spark.sql.functions.expr(predicateSql), lit(true)))
      .limit(1).collect()
    require(bad.isEmpty,
      s"existing data violates CHECK $name ($predicateSql): ${bad.head}")
    commit(spark.emptyDataFrame, tableDir, replace = false,
      extraMeta = Seq(s"check:$name=$predicateSql"), expectedVersion = Some(v),
      metaOnly = true, opOverride = Some("add-constraint"))
  }

  /** ALTER TABLE ADD COLUMNS — a METADATA-ONLY schema-evolution commit:
    * the new fields append (forced nullable — every existing row
    * null-fills them, exactly the append-merge policy) and no data file
    * moves. Refuses duplicates case-insensitively (Spark resolution is
    * case-insensitive by default) and legacy tables without a recorded
    * schema (inventing one would be a lie readers act on). */
  def addColumns(spark: SparkSession, tableDir: String,
                 fields: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(fields.nonEmpty, "addColumns with no fields")
    val v = latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"addColumns on empty table $tableDir"))
    val cur = schemaOf(tableDir, v).getOrElse(sys.error(
      s"$tableDir@v$v records no schema (pre-schema-tracking manifest) — " +
        "re-commit the table before ALTERing it"))
    val existing = cur.fieldNames.map(_.toLowerCase).toSet
    fields.foreach(f => require(!existing(f.name.toLowerCase),
      s"column ${f.name} already exists on $tableDir"))
    require(fields.map(_.name.toLowerCase).distinct.size == fields.size,
      "duplicate column names in ADD COLUMNS")
    val merged = StructType(cur.fields ++ fields.map(_.copy(nullable = true)))
    commit(spark.emptyDataFrame, tableDir, replace = false,
      extraMeta = Seq.empty, expectedVersion = Some(v),
      metaOnly = true, opOverride = Some("add-columns"),
      schemaOverride = Some(merged))
  }

  /** Drop a CHECK constraint (metadata-only commit). */
  def dropConstraint(spark: SparkSession, tableDir: String, name: String): Long = {
    val v = latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"dropConstraint on empty table $tableDir"))
    require(snapshot(tableDir, v).meta.contains(s"check:$name"),
      s"no CHECK constraint '$name' on $tableDir@v$v")
    commit(spark.emptyDataFrame, tableDir, replace = false,
      extraMeta = Seq.empty, expectedVersion = Some(v),
      metaOnly = true, opOverride = Some("drop-constraint"),
      dropMetaKeys = Set(s"check:$name"))
  }

  /** The CHECK constraints recorded at the latest version. */
  def constraints(tableDir: String): Map[String, String] =
    latestVersion(tableDir).map(v =>
      snapshot(tableDir, v).meta.collect {
        case (k, sql) if k.startsWith("check:") => k.stripPrefix("check:") -> sql
      }.toMap).getOrElse(Map.empty)

  final class ConstraintViolationException(msg: String) extends RuntimeException(msg)

  /** Shared CHECK validation (commit enforcement + restore re-validation):
    * a predicate whose columns `df` lacks is skipped — those columns are
    * NULL in the final table and NULL passes SQL CHECK. */
  private def validateChecks(df: DataFrame, checks: Map[String, String],
                             context: String): Unit = {
    val applicable = checks.filter { case (_, p) =>
      try { df.filter(org.apache.spark.sql.functions.expr(p)); true }
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    }
    if (applicable.nonEmpty) {
      val viol = df.filter(applicable.values.map(p =>
          !coalesce(org.apache.spark.sql.functions.expr(p), lit(true)))
        .reduce(_ || _)).limit(1).collect()
      if (viol.nonEmpty) throw new ConstraintViolationException(
        s"$context violates CHECK (${applicable.keys.mkString(", ")}): " +
          s"row ${viol.head}")
    }
  }

  // ---- deletion vectors: merge-on-read deletes --------------------------

  /** The `(file, pos)` deletion-vector relation recorded at `snap`, if any:
    * `file` is the manifest-relative data path (`data-<uuid>/part-…`), `pos`
    * the parquet row index within it ([[deleteWhereMor]]'s contract). */
  private def dvRelation(spark: SparkSession, tableDir: String,
                         snap: Snapshot): Option[DataFrame] =
    snap.meta.get("dv").map(dvSub =>
      spark.read.parquet(Paths.get(tableDir, dvSub).toString))

  /** `input_file_name()` reduced to the manifest-relative form: the last two
    * path segments, `data-<uuid>/part-…` — globally unique by the staging
    * UUID, so DV joins match on exact keys (never URI suffix heuristics). */
  private def relFileExpr: Column =
    org.apache.spark.sql.functions.substring_index(input_file_name(), "/", -2)

  /** Anti-join `df` (which must expose `_metadata` — i.e. be a direct
    * parquet scan) against `snap`'s deletion vector, if one is recorded.
    * No broadcast hint: the delete set is usually tiny, but at scale it
    * can be large — let AQE pick the join strategy. */
  private def applyDvIfAny(spark: SparkSession, tableDir: String,
                           snap: Snapshot, df: DataFrame): DataFrame =
    dvRelation(spark, tableDir, snap) match {
      case None => df
      case Some(dv) =>
        df.withColumn("__rel", relFileExpr)
          .withColumn("__pos", col("_metadata.row_index"))
          .join(dv.withColumnRenamed("file", "__rel")
              .withColumnRenamed("pos", "__pos"),
            Seq("__rel", "__pos"), "left_anti")
          .drop("__rel", "__pos")
    }

  /** Snapshot rows with the version's deletion vector APPLIED, plus the
    * `__rel`/`__pos` identity columns a DV writer needs. */
  private def readWithPos(spark: SparkSession, tableDir: String,
                          snap: Snapshot): DataFrame = {
    val schemaOpt = versionSchema(snap)
    val paths = snap.files.map(f => Paths.get(tableDir, f).toString)
    val base = (schemaOpt match {
      case Some(sc) => spark.read.schema(asNullable(sc)).parquet(paths: _*)
      case None     => spark.read.parquet(paths: _*)
    }).withColumn("__rel", relFileExpr)
      .withColumn("__pos", col("_metadata.row_index"))
    dvRelation(spark, tableDir, snap) match {
      case None => base
      case Some(dv) =>
        base.join(dv.withColumnRenamed("file", "__rel")
            .withColumnRenamed("pos", "__pos"),
          Seq("__rel", "__pos"), "left_anti")
    }
  }

  /** Row-level DELETE, MERGE-ON-READ: instead of rewriting every touched
    * file ([[deleteWhere]]'s copy-on-write), record the matching rows'
    * (file, row-position) pairs in a DELETION VECTOR and commit only
    * metadata — the Delta/Iceberg v2 "position delete" design. Write cost
    * is O(deleted rows) regardless of file sizes (deleting 100 rows from a
    * 100 TB table writes a 100-row parquet sidecar + one manifest);
    * [[readVersion]] applies the vector with an anti-join on
    * (file, row_index), so reads pay a join against the (usually tiny)
    * delete set until [[materializeDeletes]] folds the vectors into a
    * copy-on-write rewrite. The DV relation is written DISTRIBUTED (a
    * Spark parquet write) — positions never pass through the driver.
    *
    * Each MOR commit writes the FULL updated vector (previous entries ∪
    * new hits) into its own `dv-<uuid>/` dir and points the manifest's
    * single `dv=` key at it, so a version's delete state is one
    * self-contained relation (vacuum reasons about whole dirs, the
    * carried-meta rule stays trivial). The vector carries through pure
    * appends, is consumed by merge commits, and dies with a replace.
    * Copy-on-write operations (upsert, deleteWhere, mergeBranch, CDC
    * apply) REFUSE to run while a vector is outstanding — run
    * [[materializeDeletes]] first; compaction reads through [[read]] and
    * therefore materializes implicitly. Same optimistic concurrency and
    * NULL-keeps predicate semantics as [[deleteWhere]]. */
  def deleteWhereMor(spark: SparkSession, tableDir: String,
                     predicate: Column,
                     asOfVersion: Option[Long] = None): Long = {
    val v = asOfVersion.orElse(latestVersion(tableDir)).getOrElse(
      throw new IllegalArgumentException(s"deleteWhereMor on empty table $tableDir"))
    val snap = snapshot(tableDir, v)
    // the DV key is the LAST TWO path segments — valid only for the flat
    // `data-<uuid>/part-…` staging layout. Nested layouts (SPJ/bucketed
    // `data-<uuid>/b<k>/part-…`) would key as `b<k>/part-…`, match no
    // manifest entry, and SILENTLY RESURRECT deleted rows — refuse loudly
    // instead (those layouts come from replace commits; re-replace after
    // a CoW delete to restore them)
    require(snap.files.forall(_.count(_ == '/') == 1),
      s"deleteWhereMor supports flat data-<uuid>/part layouts only; " +
        s"$tableDir@v$v has nested data paths (SPJ/bucketed) — use deleteWhere")
    // predicate evaluates on the LOGICAL table (already-deleted rows are
    // invisible, so a vector entry is never duplicated)
    val hits = readWithPos(spark, tableDir, snap)
      .filter(predicate)
      .select(col("__rel").as("file"), col("__pos").as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (hits.isEmpty) return v
      val dvNew = dvRelation(spark, tableDir, snap) match {
        case None      => hits
        case Some(old) => old.unionByName(hits)
      }
      val dvSub = s"dv-${java.util.UUID.randomUUID().toString}"
      // sortWithinPartitions (no shuffle — `hits` is already file-clustered
      // by its per-file scan tasks): each sidecar part file then carries a
      // TIGHT footer [min,max] on `file`, which the catalog's per-file DV
      // load uses to skip whole row groups — total DV read work stays
      // ~O(|vector|) instead of O(touched files × |vector|)
      dvNew.sortWithinPartitions("file", "pos")
        .write.mode(SaveMode.ErrorIfExists)
        .parquet(Paths.get(tableDir, dvSub).toString)
      try
        // metaOnly: the df argument is never evaluated — pass the cheapest
        // valid frame instead of a readVersion plan
        commit(spark.emptyDataFrame, tableDir, replace = false,
          extraMeta = Seq(s"dv=$dvSub"), expectedVersion = Some(v),
          metaOnly = true, opOverride = Some("delete-mor"))
      catch {
        case e: ConcurrentCommitException =>
          deleteRecursively(Paths.get(tableDir, dvSub)); throw e
      }
    } finally hits.unpersist()
  }

  /** Fold outstanding deletion vectors into the data: rewrite only the
    * DV'd files without their deleted rows (file-granular copy-on-write,
    * [[deleteWhere]]'s shape) and drop the `dv=` pointer — after this,
    * reads are join-free again and copy-on-write operations are legal.
    * No-op (returns the current version) when no vector is outstanding. */
  def materializeDeletes(spark: SparkSession, tableDir: String): Long = {
    val v = latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"materializeDeletes on empty table $tableDir"))
    val snap = snapshot(tableDir, v)
    val dv = dvRelation(spark, tableDir, snap).getOrElse(return v)
    // bounded driver collect: distinct FILES (manifest-scale), never rows
    val dirty = dv.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet
    val touched = snap.files.filter(dirty)
    val schemaOpt = versionSchema(snap)
    val paths = touched.map(f => Paths.get(tableDir, f).toString)
    val kept = (schemaOpt match {
      case Some(sc) => spark.read.schema(asNullable(sc)).parquet(paths: _*)
      case None     => spark.read.parquet(paths: _*)
    }).withColumn("__rel", relFileExpr)
      .withColumn("__pos", col("_metadata.row_index"))
      .join(dv.withColumnRenamed("file", "__rel").withColumnRenamed("pos", "__pos"),
        Seq("__rel", "__pos"), "left_anti")
      .drop("__rel", "__pos")
    // a merge commit never carries the dv key (see commit's carried rule)
    commit(kept, tableDir, replace = false,
      dropFiles = touched.toSet, expectedVersion = Some(v))
  }

  /** Loud refusal for copy-on-write paths while a deletion vector is
    * outstanding: their file rewrites read raw files and would RESURRECT
    * deleted rows. */
  private def requireNoDv(snap: Snapshot, op: String): Unit =
    require(!snap.meta.contains("dv"),
      s"$op on a table with outstanding merge-on-read deletes (dv=" +
        s"${snap.meta("dv")}) — run materializeDeletes first")

  /** Change data feed between two versions: row-level (+1 insert /
    * −1 delete) deltas computed from the MANIFEST DIFF — only files that
    * entered or left the table between the versions are read, so the CDF
    * of an append touches just the appended files and the CDF of a
    * file-granular [[upsert]] touches just the rewritten files, never the
    * 100 TB of carried-by-reference data. Multiset semantics via
    * exceptAll: an update appears as one delete (old row) + one insert
    * (new row); rows that moved files unchanged cancel out.
    *
    * Returns the `toVersion` schema plus `_change` ("insert"/"delete").
    * Both versions must still be retained (not vacuumed). */
  def changes(spark: SparkSession, tableDir: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changes requires fromVersion < toVersion, got $fromVersion >= $toVersion")
    val from = snapshot(tableDir, fromVersion)
    val to = snapshot(tableDir, toVersion)
    val entered = (to.files.toSet -- from.files.toSet).toSeq.sorted
    val left = (from.files.toSet -- to.files.toSet).toSeq.sorted
    val common = from.files.toSet.intersect(to.files.toSet)
    // resolve BOTH sides with the destination schema so schema evolution
    // across the range compares by name (old files null-fill new columns)
    val sc = versionSchema(to)
    def readRaw(rel: Seq[String]): DataFrame = {
      val paths = rel.map(f => Paths.get(tableDir, f).toString)
      sc match {
        case Some(st) => spark.read.schema(asNullable(st)).parquet(paths: _*)
        case None     => spark.read.parquet(paths: _*)
      }
    }
    // deletion-vector awareness: each side's rows are read AS THAT VERSION
    // saw them (its own DV applied) — a materializing rewrite then cancels
    // out in exceptAll exactly like any carried move
    val fromDv = dvRelation(spark, tableDir, from)
    val toDv = dvRelation(spark, tableDir, to)
    def applyDv(df: DataFrame, dv: Option[DataFrame]): DataFrame = dv match {
      case None => df
      case Some(d) =>
        df.withColumn("__rel", relFileExpr)
          .withColumn("__pos", col("_metadata.row_index"))
          .join(d.withColumnRenamed("file", "__rel")
              .withColumnRenamed("pos", "__pos"),
            Seq("__rel", "__pos"), "left_anti")
          .drop("__rel", "__pos")
    }
    def readRel(rel: Seq[String], dv: Option[DataFrame]): Option[DataFrame] =
      if (rel.isEmpty) None else Some(applyDv(readRaw(rel), dv))
    // DV GROWTH on files present at both boundaries = rows deleted
    // merge-on-read in the range (positions only accumulate while a file
    // stays — materialization removes the file, handled by the left-side
    // rule above). Read back the deleted rows by (file, position).
    val dvDeletes: Option[DataFrame] = toDv.flatMap { td =>
      // semi-join, not isin: the common-file list is manifest-scale and an
      // In literal of thousands of strings bloats every re-planned tick
      import spark.implicits._
      val grown0 = td.join(
        common.toSeq.sorted.toDF("file"), Seq("file"), "left_semi")
      val grown = fromDv match {
        case None     => grown0
        case Some(fd) => grown0.join(fd, Seq("file", "pos"), "left_anti")
      }
      val files = grown.select(col("file")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      if (files.isEmpty) None
      else Some(readRaw(files)
        .withColumn("__rel", relFileExpr)
        .withColumn("__pos", col("_metadata.row_index"))
        .join(grown.withColumnRenamed("file", "__rel")
            .withColumnRenamed("pos", "__pos"),
          Seq("__rel", "__pos"), "left_semi")
        .drop("__rel", "__pos"))
    }
    val base = (readRel(entered, toDv), readRel(left, fromDv)) match {
      case (None, None) =>
        readVersion(spark, tableDir, toVersion).limit(0)
          .withColumn("_change", lit(""))
      case (Some(n), None) => n.withColumn("_change", lit("insert"))
      case (None, Some(o)) => o.withColumn("_change", lit("delete"))
      case (Some(n), Some(o)) =>
        n.exceptAll(o).withColumn("_change", lit("insert"))
          .unionAll(o.exceptAll(n).withColumn("_change", lit("delete")))
    }
    dvDeletes match {
      case None    => base
      case Some(d) => base.unionAll(d.withColumn("_change", lit("delete")))
    }
  }

  // ---- incremental CDC consumption: durable per-consumer offsets ----

  /** SCD2 dimension-history maintenance from a change feed — the classic
    * warehouse pattern (q95's batch semantics) driven INCREMENTALLY by
    * [[pollChanges]]: each applied batch closes the open history rows of
    * affected keys (valid_to = the batch's source version) and opens new
    * rows for inserted/updated keys (valid_from = that version, valid_to
    * = −1 = open). Rides [[upsert]] keyed (keys…, valid_from), so closing
    * rewrites only the files holding affected open rows and the whole
    * apply is ONE atomic history commit. Version numbers are the SOURCE
    * table's commit versions — [[scd2AsOf]] reconstructs any polled
    * source version exactly (spec-proven), which is the SCD2 correctness
    * contract. Returns the committed history version (None for an empty
    * batch). */
  def scd2Apply(spark: SparkSession, historyDir: String, changes0: DataFrame,
                keys: Seq[String], sourceVersion: Long): Option[Long] = {
    require(keys.nonEmpty, "scd2Apply needs at least one key column")
    val changes = changes0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (changes.isEmpty) return None
      // at-least-once redelivery guard (pollChanges acks AFTER apply): a
      // batch for an already-applied source version must no-op, or the
      // re-close writes degenerate valid_from == valid_to rows and the
      // re-open doubles the (keys, valid_from) upsert key. The version
      // rides every applied row, so the history itself is the marker.
      val already = latestVersion(historyDir).exists { _ =>
        !read(spark, historyDir)
          .filter(col("valid_from") === sourceVersion ||
            col("valid_to") === sourceVersion)
          .isEmpty
      }
      if (already) return None
      val inserts = changes.filter(col("_change") === "insert").drop("_change")
      val affected = changes.select(keys.map(col): _*).distinct()
      val opened = inserts
        .withColumn("valid_from", lit(sourceVersion))
        .withColumn("valid_to", lit(-1L))
      val toApply = latestVersion(historyDir) match {
        case None => opened // bootstrap: nothing to close
        case Some(_) =>
          val closed = read(spark, historyDir)
            .filter(col("valid_to") === -1L)
            .join(affected, keys, "left_semi")
            .withColumn("valid_to", lit(sourceVersion))
          closed.unionByName(opened)
      }
      Some(upsert(spark, historyDir, toApply, keys :+ "valid_from"))
    } finally changes.unpersist()
  }

  /** The dimension exactly as of SOURCE version `v`: rows whose validity
    * interval covers it. With every polled boundary applied through
    * [[scd2Apply]], this equals `readVersion(source, v)` for each such
    * boundary. */
  def scd2AsOf(spark: SparkSession, historyDir: String, v: Long): DataFrame =
    read(spark, historyDir)
      .filter(col("valid_from") <= v &&
        (col("valid_to") === -1L || col("valid_to") > v))
      .drop("valid_from", "valid_to")

  private def consumersDir(tableDir: String): Path = Paths.get(tableDir, "_consumers")
  // greedy id group: the LAST 8-digit field is the ack sequence, so
  // consumer ids may themselves contain '-'. The consumed-through VERSION
  // lives INSIDE the file: the CAS must race on the sequence alone — two
  // workers acking the same poll window at different latest versions must
  // collide on one filename, not link two files for one sequence.
  private val OffsetRe = "(.+)-(\\d{8})\\.offset".r

  /** Current durable offset of `consumerId`: (ack sequence, table version
    * consumed through), None if the consumer has never acked. */
  def consumerOffset(tableDir: String, consumerId: String): Option[(Long, Long)] = {
    if (!Files.isDirectory(consumersDir(tableDir))) return None
    val s = Files.list(consumersDir(tableDir))
    val latest =
      try s.iterator().asScala
        .flatMap(p => p.getFileName.toString match {
          case OffsetRe(id, seq) if id == consumerId => Some((seq.toLong, p))
          case _                                     => None
        })
        .toSeq.sortBy(_._1).lastOption
      finally s.close()
    try latest.map { case (seq, p) =>
      (seq, new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim.stripPrefix("version=").toLong)
    } catch {
      // a rival worker's ackOffset stale-sweep can delete the file we
      // just listed (it keeps only the two newest sequences); the newer
      // offset that replaced it is by construction >= ours, so a fresh
      // re-list converges — never surface NoSuchFileException to pollers
      case _: java.nio.file.NoSuchFileException =>
        consumerOffset(tableDir, consumerId)
    }
  }

  /** One pollable unit of change. `fromVersion` None = bootstrap (the
    * full snapshot at `toVersion` delivered as inserts). `ack()` durably
    * advances the consumer offset to `toVersion` — call it AFTER the
    * batch is processed: a crash before ack redelivers the same batch
    * (at-least-once; pair with idempotent/transactional downstream
    * writes for exactly-once). Returns false iff another worker sharing
    * this consumer id acked first — the batch was (or is being)
    * processed elsewhere; re-poll instead of retrying. */
  final case class ChangeBatch(
      tableDir: String, consumerId: String,
      fromVersion: Option[Long], toVersion: Long, df: DataFrame,
      private val ackSeq: Long) {
    // ackSeq was fixed at POLL time: if a rival worker of the same
    // consumer id acked after our poll, its file occupies this sequence
    // and our CAS fails — never a silent double-advance past its work
    def ack(): Boolean = ackOffset(tableDir, consumerId, ackSeq, toVersion)
  }

  /** What `consumerId` has not consumed yet, or None if it is caught up.
    *
    * First poll bootstraps: the full current snapshot arrives as `insert`
    * rows (there is no "version 0" to diff against), after which every
    * poll returns the manifest-diff CDF window (offset, latest] — an
    * upsert's delta reads only rewritten files, never the carried bulk.
    * The consumer's read frontier is always a COMMITTED version boundary:
    * a reader never sees half a commit.
    *
    * If retention vacuumed the consumer's offset manifest away, the diff
    * base is gone — fails loudly with the resync instruction rather than
    * silently re-delivering the world ([[resetConsumer]] + re-poll is the
    * explicit resync). Keep `vacuum(keepVersions)` above the slowest
    * consumer's lag. */
  def pollChanges(spark: SparkSession, tableDir: String,
                  consumerId: String): Option[ChangeBatch] = {
    val to = latestVersion(tableDir).getOrElse(return None)
    consumerOffset(tableDir, consumerId) match {
      case None =>
        Some(ChangeBatch(tableDir, consumerId, None, to,
          readVersion(spark, tableDir, to)
            .withColumn("_change", org.apache.spark.sql.functions.lit("insert")),
          ackSeq = 0L))
      case Some((_, from)) if from >= to => None
      case Some((seq, from)) =>
        if (!Files.exists(manifestPath(tableDir, from)))
          throw new IllegalStateException(
            s"consumer '$consumerId' offset v$from was vacuumed from $tableDir — " +
              "the incremental base is gone; resetConsumer() and re-poll to resync " +
              "(full snapshot), and raise vacuum's keepVersions above consumer lag")
        Some(ChangeBatch(tableDir, consumerId, Some(from), to,
          changes(spark, tableDir, from, to), ackSeq = seq + 1))
    }
  }

  /** Apply a change feed (a [[ChangeBatch]].df or [[changes]] output —
    * rows + `_change` in/out markers) to a DOWNSTREAM table as one atomic
    * commit — the replication/materialized-replica primitive on top of
    * [[pollChanges]]. Key-based, same contract as [[upsert]]: `keys` must
    * uniquely identify rows in the destination. File-granular CoW: only
    * destination files containing an AFFECTED key (deleted or inserted)
    * rewrite; inserts append; everything else carries by reference. An
    * update (delete+insert of one key) lands as the new row; a pure
    * delete removes the key; a pure insert appends. Returns the committed
    * destination version (None-change batches commit nothing). */
  def applyChanges(spark: SparkSession, tableDir: String, changes0: DataFrame,
                   keys: Seq[String], extraMeta: Seq[String] = Seq.empty,
                   txn: Option[SnapshotTxn.Handle] = None): Option[Long] = {
    require(keys.nonEmpty, "applyChanges needs at least one key column")
    // a CDF batch is itself a multi-file read + exceptAll; it feeds the
    // pruning scan, the rewrite, and the emptiness check — persist once
    val changes = changes0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try applyChangesImpl(spark, tableDir, changes, keys, extraMeta, txn)
    finally changes.unpersist()
  }

  private def applyChangesImpl(spark: SparkSession, tableDir: String,
                               changes: DataFrame, keys: Seq[String],
                               extraMeta: Seq[String],
                               txn: Option[SnapshotTxn.Handle] = None): Option[Long] = {
    val inserts = changes.filter(col("_change") === "insert").drop("_change")
    val affected = changes.select(keys.map(col): _*).distinct()
    if (changes.isEmpty) return None
    latestVersion(tableDir) match {
      case None => Some(commit(inserts, tableDir, replace = false,
        extraMeta = extraMeta, txn = txn))
      case Some(v) =>
        val snap = snapshot(tableDir, v)
        requireNoDv(snap, "applyChanges")
        val schemaOpt = versionSchema(snap)
        def readFiles(rel: Seq[String]): DataFrame = {
          val paths = rel.map(f => Paths.get(tableDir, f).toString)
          schemaOpt match {
            case Some(sc) => spark.read.schema(asNullable(sc)).parquet(paths: _*)
            case None     => spark.read.parquet(paths: _*)
          }
        }
        val keyCols = keys.map(col)
        val touchedPaths = readFiles(snap.files)
          .select(input_file_name().as("__file") +: keyCols: _*)
          .join(affected, keys, "left_semi")
          .select(col("__file")).distinct()
          .collect().map(_.getString(0)).toSet
        val touched = snap.files.filter(f => touchedPaths.exists(_.endsWith("/" + f)))
        val newRows =
          if (touched.isEmpty) inserts
          else readFiles(touched).join(affected, keys, "left_anti")
            .unionByName(inserts, allowMissingColumns = true)
        Some(commit(newRows, tableDir, replace = false, extraMeta = extraMeta,
          dropFiles = touched.toSet, expectedVersion = Some(v), txn = txn))
    }
  }

  /** Durable offset advance via the same hard-link CAS as commits: the
    * offset file `<id>-<seq>.offset` either links (we won) or already
    * exists (a worker sharing the consumer id acked this window first). */
  private def ackOffset(tableDir: String, consumerId: String,
                        seq: Long, toVersion: Long): Boolean = {
    require(!consumerId.contains("/") && consumerId.nonEmpty,
      s"consumer id must be a non-empty path-safe token, got '$consumerId'")
    Files.createDirectories(consumersDir(tableDir))
    val target = consumersDir(tableDir).resolve(f"$consumerId-$seq%08d.offset")
    val tmp = Files.createTempFile(consumersDir(tableDir), s".$consumerId-", ".tmp")
    Files.write(tmp, s"version=$toVersion\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try {
      Files.createLink(target, tmp)
      // best-effort sweep of this consumer's superseded offsets (keep the
      // previous one as a safety margin) — readers only take the max seq,
      // so deleting lower sequences never changes what they resolve; left
      // alone they accumulate one file per ack forever
      val s = Files.list(consumersDir(tableDir))
      val stale =
        try s.iterator().asScala.filter(p => p.getFileName.toString match {
          case OffsetRe(id, sq) => id == consumerId && sq.toLong < seq - 1
          case _                => false
        }).toList
        finally s.close()
      stale.foreach(Files.deleteIfExists(_))
      true
    } catch {
      case _: FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Operator intervention: forget `consumerId`'s offsets so its next
    * poll bootstraps from the full current snapshot. NOT safe against a
    * concurrently acking worker of the same id — quiesce the consumer
    * first (the normal path never needs this; it exists for post-vacuum
    * resync). */
  def resetConsumer(tableDir: String, consumerId: String): Int = {
    if (!Files.isDirectory(consumersDir(tableDir))) return 0
    val s = Files.list(consumersDir(tableDir))
    val mine =
      try s.iterator().asScala.filter(p => p.getFileName.toString match {
        case OffsetRe(id, _) => id == consumerId
        case _               => false
      }).toList
      finally s.close()
    mine.foreach(Files.deleteIfExists(_))
    mine.length
  }

  /** Drain every pending change window of `consumerId` through `apply`,
    * acking AFTER each applied window. Returns windows applied.
    *
    * Delivery is at-least-once per window (a crash between apply and ack
    * redelivers); an idempotent consumer ([[scd2Apply]]'s version-marker
    * guard, keyed [[applyChanges]]) turns that into exactly-once effects.
    * A false ack means a rival worker sharing the consumer id acked this
    * window first — its apply is durable and idempotency makes the
    * overlap benign, so the loop just re-polls from the advanced offset.
    *
    * A vacuumed-away offset base fails LOUDLY by default (the
    * [[pollChanges]] resync contract). `autoResync = true` instead resets
    * the consumer and re-bootstraps — an explicit opt-in, because it
    * redelivers the full snapshot as inserts (scd2 downstreams tolerate
    * it: unchanged keys re-close and re-open at the resync boundary). */
  def drainChanges(spark: SparkSession, tableDir: String, consumerId: String,
                   autoResync: Boolean = false)(apply: ChangeBatch => Unit): Int = {
    var applied = 0
    var next = pollResync(spark, tableDir, consumerId, autoResync)
    while (next.isDefined) {
      val b = next.get
      apply(b)
      applied += 1
      b.ack()
      next = pollResync(spark, tableDir, consumerId, autoResync)
    }
    applied
  }

  private def pollResync(spark: SparkSession, tableDir: String, consumerId: String,
                         autoResync: Boolean): Option[ChangeBatch] =
    try pollChanges(spark, tableDir, consumerId)
    catch {
      case e: IllegalStateException
          if autoResync && e.getMessage != null && e.getMessage.contains("vacuumed") =>
        resetConsumer(tableDir, consumerId)
        pollChanges(spark, tableDir, consumerId)
    }

  /** The latest snapshot as a DataFrame. */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    readVersion(spark, tableDir,
      latestVersion(tableDir).getOrElse(
        throw new IllegalStateException(s"no snapshots in $tableDir")))

  /** Time travel: the table exactly as of `version`.
    *
    * Schema evolution: each manifest records the version's authoritative
    * schema (`schema=` meta, see [[commit]]); the read resolves files BY
    * NAME against it — a column added after a file was written comes back
    * null-filled from that file, a column dropped by a later replace stops
    * being read even though old files still carry it. Manifests from before
    * schema recording fall back to the plain parquet-inferred read. */
  def readVersion(spark: SparkSession, tableDir: String, version: Long): DataFrame = {
    // explicit time travel to an aborted-transaction tombstone (or a
    // still-pending slot) must fail loudly, not serve data that was never
    // visible: the cheap check is the .dead sidecar plus, while a txn is
    // open, visibility resolution itself
    if (Files.exists(deadPath(tableDir, version)))
      throw new IllegalStateException(
        s"version $version of $tableDir belongs to an aborted transaction")
    if (Files.exists(openTxnPath(tableDir)) && !versions(tableDir).contains(version))
      throw new IllegalStateException(
        s"version $version of $tableDir is not visible (transaction pending)")
    val snap = snapshot(tableDir, version)
    val schemaOpt = versionSchema(snap)
    // even an empty-DataFrame commit stages one (schema-only) part file,
    // so a manifest always references at least one parquet file
    def plain(rel: Seq[String]): DataFrame = {
      val paths = rel.map(f => Paths.get(tableDir, f).toString)
      schemaOpt match {
        // all-nullable: files written before a column existed null-fill it,
        // so no field the reader resolves by name can promise non-null
        case Some(sc) => spark.read.schema(asNullable(sc)).parquet(paths: _*)
        case None     => spark.read.parquet(paths: _*)
      }
    }
    dvRelation(spark, tableDir, snap) match {
      case None => plain(snap.files)
      case Some(dv) =>
        // only files the vector actually touches pay the anti-join; the
        // rest read plain (file list is manifest-scale — bounded collect)
        val dirty = dv.select(col("file")).distinct()
          .collect().map(_.getString(0)).toSet
        val filtered = plain(snap.files.filter(dirty))
          .withColumn("__rel", relFileExpr)
          .withColumn("__pos", col("_metadata.row_index"))
          .join(dv.withColumnRenamed("file", "__rel")
              .withColumnRenamed("pos", "__pos"),
            Seq("__rel", "__pos"), "left_anti")
          .drop("__rel", "__pos")
        val clean = snap.files.filterNot(dirty)
        if (clean.isEmpty) filtered
        else plain(clean).unionByName(filtered)
    }
  }

  /** The authoritative schema recorded at `version` (None for manifests
    * written before schema tracking). */
  def schemaOf(tableDir: String, version: Long): Option[StructType] =
    versionSchema(snapshot(tableDir, version))

  private def versionSchema(snap: Snapshot): Option[StructType] =
    snap.meta.get("schema").map(DataType.fromJson(_).asInstanceOf[StructType])

  private def asNullable(sc: StructType): StructType =
    StructType(sc.fields.map(_.copy(nullable = true)))

  /** Append-commit schema policy: the union of the previous version's
    * schema and the incoming one, resolved by name — existing columns keep
    * their position, brand-new columns append at the end (old files
    * null-fill them on read). A same-name column with a DIFFERENT type is
    * rejected: silent coercion is how lakes corrupt data; widen explicitly
    * with a replace commit instead. */
  private def mergeSchemas(prev: StructType, next: StructType): StructType = {
    val prevByName = prev.fields.map(f => f.name -> f).toMap
    next.fields.foreach { f =>
      prevByName.get(f.name).foreach { p =>
        // catalogString compare = nullability-insensitive type equality
        // (DataType.sameType is private[sql])
        require(p.dataType.catalogString == f.dataType.catalogString,
          s"schema evolution type conflict on '${f.name}': " +
            s"table has ${p.dataType.simpleString}, append has ${f.dataType.simpleString}")
      }
    }
    val newFields = next.fields.filterNot(f => prevByName.contains(f.name))
    StructType(prev.fields ++ newFields)
  }

  /** Retention vacuum: drop manifests older than the newest `keepVersions`
    * and delete data files no retained manifest references. The ONLY
    * destructive operation in the format — correctness contract: run it
    * only when no reader is pinned to a dropped version (the operational
    * gate every lake format documents; snapshots themselves never delete).
    * Returns (versions dropped, data files deleted). */
  def vacuum(tableDir: String, keepVersions: Int): (Int, Int) =
    vacuum(tableDir, keepVersions, orphanAgeMs = None)

  /** As [[vacuum]], and with `orphanAgeMs` set also sweep ORPHAN staging
    * dirs: `data-<uuid>/` directories referenced by NO manifest at all — a
    * writer that crashed after staging (or exhausted its CAS retries)
    * leaves one behind forever, invisible to manifest-based deletion. The
    * age gate (last-modified older than now − orphanAgeMs) keeps the sweep
    * from racing an in-flight commit that has staged but not yet published;
    * set it comfortably above the longest plausible stage→publish window. */
  def vacuum(tableDir: String, keepVersions: Int, orphanAgeMs: Option[Long]): (Int, Int) = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    // NOTE: safe under an OPEN multi-table transaction by construction —
    // the txn lock excludes other writers, so the visible tip the txn
    // staged against is always inside the keep window, pending staged
    // dirs are referenced by RAW manifests (never orphan-swept, spec-
    // proven), and dead-file deletion only touches files of DROPPED
    // manifests. The SQL CALL surface still refuses under an open txn
    // (an operator there can't see transaction state).
    val all = versions(tableDir)
    val (drop, keep) = all.splitAt(math.max(0, all.length - keepVersions))
    val live = keep.flatMap(snapshot(tableDir, _).files).toSet
    val dead = drop.flatMap(snapshot(tableDir, _).files).toSet -- live
    // every commit stages into its own data-<uuid>/ dir, so a dir is either
    // fully live or fully dead — dead dirs go recursively (this also sweeps
    // the _SUCCESS markers, which manifests never reference)
    val liveDirs = live.map(f => Paths.get(tableDir, f).getParent)
    val deadDirs = dead.map(f => Paths.get(tableDir, f).getParent) -- liveDirs
    deadDirs.foreach(deleteRecursively)
    // deletion-vector dirs: each MOR commit writes its FULL vector into its
    // own dv-<uuid>/ dir, referenced by exactly the manifests whose dv= key
    // points at it — same fully-live-or-fully-dead granularity as data dirs
    val liveDv = keep.flatMap(snapshot(tableDir, _).meta.get("dv")).toSet
    val deadDv = drop.flatMap(snapshot(tableDir, _).meta.get("dv")).toSet -- liveDv
    deadDv.foreach(d => deleteRecursively(Paths.get(tableDir, d)))
    drop.foreach { v =>
      Files.deleteIfExists(manifestPath(tableDir, v))
      Files.deleteIfExists(txnOkPath(tableDir, v)) // committed-txn sidecar
      ()
    }
    // aborted-transaction slots below the kept window: the manifest and its
    // .dead sidecar are pure tombstones by now (abort deleted the staged
    // data) — drop them so history does not accumulate dead files forever.
    // Slots >= the kept floor keep their tombstones: slot numbers must
    // never be reused while any kept version could reference the range.
    val floor = keep.headOption.getOrElse(Long.MaxValue)
    rawVersions(tableDir).filter(v => v < floor &&
        Files.exists(deadPath(tableDir, v))).foreach { v =>
      Files.deleteIfExists(manifestPath(tableDir, v))
      Files.deleteIfExists(deadPath(tableDir, v))
      Files.deleteIfExists(txnOkPath(tableDir, v))
      ()
    }
    val orphans = orphanAgeMs.fold(0) { age =>
      // referenced-by-ANY-manifest set AFTER the drop above — what remains
      // on disk and is reachable; everything else matching data-*/dv-* is
      // orphan (a crashed MOR writer leaves a staged dv dir behind).
      // TOP-LEVEL dir = first path segment: nested layouts (SPJ's
      // data-<uuid>/b<k>/part-…) must reference data-<uuid>, not b<k> —
      // getParent would classify a LIVE SPJ staged dir as orphan
      // RAW manifests: an open transaction's pending manifest references
      // its staged dir — the sweep must respect it even though the version
      // is not yet visible
      val snaps = rawVersions(tableDir).map(snapshot(tableDir, _))
      val referenced = snaps.flatMap(_.files)
        .map(_.takeWhile(_ != '/')).toSet ++
        snaps.flatMap(_.meta.get("dv")).toSet
      val cutoff = System.currentTimeMillis() - age
      val s = Files.list(Paths.get(tableDir))
      val candidates =
        try s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          (n.startsWith("data-") || n.startsWith("dv-")) &&
            !referenced.contains(n) &&
            Files.isDirectory(p) && Files.getLastModifiedTime(p).toMillis < cutoff
        }.toList
        finally s.close()
      candidates.foreach(deleteRecursively)
      candidates.length
    }
    (drop.length, dead.size + deadDv.size + orphans)
  }

  /** Zero-copy CLONE: materialize `version` of `srcDir` as a brand-new,
    * fully independent SnapshotTable at `destDir` without copying a byte
    * of data. Every data file is HARD-LINKED, so the clone shares inodes
    * with the source but owns its own directory entries: `vacuum` on
    * either table unlinks only its OWN names and can never pull data out
    * from under the other — the POSIX answer to the shallow-clone/vacuum
    * hazard path-referencing clones carry (where vacuuming the source
    * breaks every clone pointing into it). O(files) metadata work, same
    * filesystem required — the constraint the commit CAS already relies
    * on (`Files.createLink`).
    *
    * Carried into the clone's v1 manifest: schema, zone column and
    * per-file zone stats, and bucket/SPJ layout specs (all are properties
    * of the FILE SET, which clone preserves byte-for-byte — a clone of a
    * bucketed/SPJ snapshot stays readBucketed/readSpj-able without a
    * re-replace). NOT carried: stream
    * watermarks — the clone is a different table, and inheriting the
    * source's exactly-once dedupe history would silently DROP the first
    * re-delivered batches of any stream re-pointed at it. */
  def cloneAt(srcDir: String, version: Long, destDir: String): Long = {
    // same visibility guard as readVersion: cloning a pending transaction
    // version would permanently publish uncommitted rows (the clone's
    // hard links survive the abort's unlink), and cloning a tombstone
    // would crash mid-link on already-deleted staged files
    if (Files.exists(deadPath(srcDir, version)))
      throw new IllegalStateException(
        s"version $version of $srcDir belongs to an aborted transaction")
    if (Files.exists(openTxnPath(srcDir)) && !versions(srcDir).contains(version))
      throw new IllegalStateException(
        s"version $version of $srcDir is not visible (transaction pending)")
    val snap = snapshot(srcDir, version)
    init(destDir)
    require(versions(destDir).isEmpty, s"clone target $destDir is not an empty table")
    for (f <- snap.files) {
      val dst = Paths.get(destDir, f)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, Paths.get(srcDir, f)) // throws if dst exists: loud
    }
    // an SPJ layout's _spj_meta.json sidecar is not in the manifest file
    // list — link it too or the carried spjkey points at a dir the SPJ
    // catalog refuses to load
    if (snap.meta.contains("spjkey")) {
      for (sub <- snap.files.map(_.takeWhile(_ != '/')).distinct) {
        val side = Paths.get(srcDir, sub, "_spj_meta.json")
        if (Files.exists(side))
          Files.createLink(Paths.get(destDir, sub, "_spj_meta.json"), side)
      }
    }
    // an outstanding deletion vector is part of the version's row set —
    // link its dir too (same inode-pinning independence as the data files)
    snap.meta.get("dv").foreach { dvSub =>
      for (p <- listParquet(Paths.get(srcDir, dvSub))) {
        val dst = Paths.get(destDir, dvSub, p)
        Files.createDirectories(dst.getParent)
        Files.createLink(dst, Paths.get(srcDir, dvSub, p))
      }
    }
    val carried = snap.meta.view
      .filterKeys(k => k == "schema" || k == "zonecol" || k == "zonecols" ||
        k == "dv" || k == "bucketcol" || k == "bucketn" ||
        k == "spjkey" || k == "spjn" ||
        k.startsWith("zone:") || k.startsWith("check:"))
      .toMap + ("cloned_from" ->
        s"${Paths.get(srcDir).toAbsolutePath}@v$version")
    val body =
      (Seq("version=1", "op=clone")
        ++ carried.toSeq.sortBy(_._1).map { case (k, value) => s"$k=$value" }
        ++ snap.files)
        .mkString("", "\n", "\n")
    val tmp = Files.createTempFile(snapDir(destDir), ".v1-", ".tmp")
    Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.createLink(manifestPath(destDir, 1L), tmp) // CAS: racer loses loudly
    Files.deleteIfExists(tmp)
    1L
  }

  final class MergeConflictException(msg: String) extends RuntimeException(msg)

  /** Three-way BRANCH MERGE — the lakeFS/Nessie dev-branch workflow over
    * [[cloneAt]] branches: land the branch's changes back onto main with
    * FILE-granular conflict detection against the common base (the main
    * version the branch was cloned at, recorded in the clone manifest).
    *
    *   - branch additions (tip − base) HARD-LINK into main (zero copy;
    *     `data-<uuid>` staging dirs can never collide across tables);
    *   - branch deletions (base − tip: compaction, deleteWhere, upsert
    *     rewrites) drop from main's tip file list;
    *   - CONFLICT iff a base file was rewritten/deleted on BOTH sides —
    *     both rewrote rows derived from it, and file-granular merge cannot
    *     reconcile row-level intent: abort loudly, never guess (upsert's
    *     conflict-DETECTION discipline). A main-side `replace` counts as
    *     deleting every base file, so it conflicts with any branch
    *     rewrite while still accepting pure-append branches.
    *
    * The merge commits through the same hard-link CAS as every writer
    * (retry recomputes the diff against the new tip). Carried meta: main's
    * stream watermarks (the branch's are deliberately NOT merged — main
    * never saw those batches, and importing the branch's dedupe history
    * would make a main-side stream silently skip them); per-file zone
    * stats follow their files (branch stats only when both sides record
    * the same zone column spec); schema = name-merge of both recorded
    * schemas when they differ (append-evolution rule). After the merge the
    * BRANCH table is still a valid independent table; vacuuming or
    * deleting it cannot break main (links pin inodes — the cloneAt
    * property, now in both directions). Returns main's new version. */
  def mergeBranch(mainDir: String, branchDir: String): Long = {
    val bv1 = snapshot(branchDir, 1L)
    require(bv1.op == "clone",
      s"$branchDir v1 is not a clone (op=${bv1.op}) — not a branch")
    val cf = bv1.meta.getOrElse("cloned_from", throw new IllegalStateException(
      s"$branchDir clone manifest lacks cloned_from"))
    val at = cf.lastIndexOf("@v")
    val (srcPath, baseV) = (cf.substring(0, at), cf.substring(at + 2).toLong)
    require(Paths.get(mainDir).toAbsolutePath.toString == srcPath,
      s"branch was cloned from $srcPath, not $mainDir")
    val base = snapshot(mainDir, baseV)
    val bTip = snapshot(branchDir, latestVersion(branchDir).getOrElse(
      throw new IllegalStateException(s"branch $branchDir has no versions")))
    // file-granular three-way merge cannot reason about row-position
    // vectors on either side — materialize them first (both tables stay
    // valid; this is the CoW-op refusal rule applied to the merge)
    requireNoDv(bTip, "mergeBranch (branch tip)")
    val baseSet = base.files.toSet
    val bSet = bTip.files.toSet
    val branchDeleted = baseSet -- bSet
    val branchAdded = (bSet -- baseSet).toSeq.sorted
    // the file a zone key describes: "zone:<f>" or "zone:<col>:<f>" (file
    // names contain '/', column names do not — the commit() convention)
    def zoneFile(k: String): String = {
      val s = k.stripPrefix("zone:")
      val i = s.indexOf(':')
      if (i >= 0 && s.substring(i + 1).contains('/')) s.substring(i + 1) else s
    }
    // links created by THIS call: on any abort (conflict, CAS exhaustion)
    // they are referenced by no manifest and must be unlinked, or they
    // leak as orphans vacuum never reclaims (it walks referenced dirs)
    val createdLinks = scala.collection.mutable.ArrayBuffer.empty[Path]
    def cleanupCreated(): Unit = {
      createdLinks.foreach(Files.deleteIfExists(_))
      createdLinks.map(_.getParent).distinct.foreach { dir =>
        try Files.deleteIfExists(dir) catch { case _: java.io.IOException => () }
      }
    }
    var attempt = 0
    try while (attempt < 64) {
      val mTip = snapshot(mainDir, latestVersion(mainDir).getOrElse(
        throw new IllegalStateException(s"main $mainDir has no versions")))
      requireNoDv(mTip, "mergeBranch (main tip)")
      // every CHECK main enforces must be live on the branch TIP with the
      // identical predicate: addConstraint validates ALL existing rows, so
      // tip-presence proves every branch row (whenever committed, even
      // across a drop/re-add window) satisfies it. Comparing the CLONE
      // manifest instead would let a branch drop the constraint, commit
      // violating rows unchecked, and still merge (review-found hole).
      val unchecked = mTip.meta.filter(_._1.startsWith("check:")).toSet --
        bTip.meta.filter(_._1.startsWith("check:")).toSet
      require(unchecked.isEmpty,
        s"main enforces CHECK constraints the branch tip never validated " +
          s"(${unchecked.map(_._1).mkString(", ")}) — re-add them on the " +
          "branch (which validates its data) or re-branch from current main")
      val mSet = mTip.files.toSet
      val mainDeleted = baseSet -- mSet
      val conflicts = branchDeleted intersect mainDeleted
      if (conflicts.nonEmpty)
        throw new MergeConflictException(
          s"merge of $branchDir into $mainDir: ${conflicts.size} base file(s) " +
            s"rewritten on BOTH sides since v$baseV — row-level intent cannot " +
            s"be reconciled file-granularly; first: ${conflicts.toSeq.sorted.head}")
      val kept = mTip.files.filterNot(branchDeleted)
      for (f <- branchAdded) {
        val dst = Paths.get(mainDir, f)
        if (!Files.exists(dst)) { // CAS retries re-enter here
          Files.createDirectories(dst.getParent)
          Files.createLink(dst, Paths.get(branchDir, f))
          createdLinks += dst
        }
      }
      val sameZoneSpec =
        mTip.meta.get("zonecol") == bTip.meta.get("zonecol") &&
          mTip.meta.get("zonecols") == bTip.meta.get("zonecols")
      val branchZone =
        if (!sameZoneSpec) Map.empty[String, String]
        else bTip.meta.view.filterKeys(k =>
          k.startsWith("zone:") && branchAdded.contains(zoneFile(k))).toMap
      val mainCarried = mTip.meta.view.filterKeys(k =>
          k.startsWith("stream:") || k.startsWith("check:") ||
            k == "zonecol" || k == "zonecols" ||
            (k.startsWith("zone:") && !branchDeleted(zoneFile(k))))
        .toMap
      val schemaEntry: Map[String, String] =
        (mTip.meta.get("schema"), bTip.meta.get("schema")) match {
          case (Some(m), Some(b)) if m == b => Map("schema" -> m)
          case (Some(m), Some(b)) =>
            Map("schema" -> mergeSchemas(
              DataType.fromJson(m).asInstanceOf[StructType],
              DataType.fromJson(b).asInstanceOf[StructType]).json)
          case (m, b) => (m.orElse(b)).map("schema" -> _).toMap
        }
      val carried = mainCarried ++ branchZone ++ schemaEntry +
        ("merged_from" -> s"${Paths.get(branchDir).toAbsolutePath}@v${bTip.version}")
      val v = nextSlotGuarded(mainDir, mTip.version)
      val body =
        (Seq(s"version=$v", "op=merge")
          ++ carried.toSeq.sortBy(_._1).map { case (k, value) => s"$k=$value" }
          ++ kept ++ branchAdded)
          .mkString("", "\n", "\n")
      val tmp = Files.createTempFile(snapDir(mainDir), s".v$v-", ".tmp")
      Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try {
        Files.createLink(manifestPath(mainDir, v), tmp)
        Files.deleteIfExists(tmp)
        return v
      } catch {
        case _: FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          attempt += 1 // tip moved: recompute the diff against the new tip
      }
    } catch {
      case e: Throwable => cleanupCreated(); throw e
    }
    cleanupCreated()
    throw new ConcurrentCommitException(
      s"lost the merge-commit race $attempt times in $mainDir")
  }

  private[sources] def commit(
      df: DataFrame, tableDir: String, replace: Boolean,
      extraMeta: Seq[String] = Seq.empty,
      zoneCol: Option[String] = None,
      multiZoneCols: Seq[String] = Seq.empty,
      dropFiles: Set[String] = Set.empty,
      expectedVersion: Option[Long] = None,
      stagedDataSub: Option[String] = None,
      metaOnly: Boolean = false,
      opOverride: Option[String] = None,
      dropMetaKeys: Set[String] = Set.empty,
      txn: Option[SnapshotTxn.Handle] = None,
      schemaOverride: Option[StructType] = None): Long = {
    init(tableDir)
    txn.foreach { h =>
      require(h.tables.contains(Paths.get(tableDir).toAbsolutePath.toString),
        s"$tableDir is not part of transaction ${h.txid}")
    }
    val checkSqls: Map[String, String] =
      if (metaOnly) Map.empty
      else latestVersion(tableDir).map(v0 =>
        snapshot(tableDir, v0).meta.collect {
          case (k, p) if k.startsWith("check:") => k.stripPrefix("check:") -> p
        }.toMap).getOrElse(Map.empty)
    // stage immutable data files under a unique dir (never visible until a
    // manifest references them); commitReplaceBucketed pre-stages through
    // the catalog writer and passes the dir in. metaOnly commits (merge-on-
    // read deletes) stage NO data files — the manifest carries the previous
    // file list and only the meta changes; `df` is ignored.
    val dataSub: Option[String] =
      if (metaOnly) None
      else Some(stagedDataSub.getOrElse {
        val ds = s"data-${java.util.UUID.randomUUID().toString}"
        df.write.mode(SaveMode.ErrorIfExists).parquet(Paths.get(tableDir, ds).toString)
        ds
      })
    // pre-staged dirs may nest (the SPJ layout's b<bucket>/ subdirs);
    // recursive listing is a superset of the flat one for flat stages
    val staged = dataSub.fold(Seq.empty[String]) { ds =>
      if (stagedDataSub.isDefined)
        listParquetRec(Paths.get(tableDir, ds)).map(p => s"$ds/$p")
      else listParquet(Paths.get(tableDir, ds)).map(p => s"$ds/$p")
    }
    // CHECK-constraint enforcement on the STAGED files, not the incoming
    // plan: validating df and then staging it would compute the lineage
    // twice AND validate a different evaluation than the one written (a
    // nondeterministic source could pass validation yet stage violating
    // rows). The staged parquet is immutable — what is validated IS what
    // publishes. Carried files were validated when they landed
    // (addConstraint refuses constraints existing data breaks). A
    // predicate over columns the staged files lack resolves to NULL in
    // the table → passes by SQL CHECK semantics (skipped deliberately).
    // On violation the staged dir is deleted and nothing publishes.
    if (checkSqls.nonEmpty && dataSub.isDefined && staged.nonEmpty) {
      val stagedDf = df.sparkSession.read.parquet(
        staged.map(f => Paths.get(tableDir, f).toString): _*)
      try validateChecks(stagedDf, checkSqls, s"commit to $tableDir")
      catch {
        case e: ConstraintViolationException =>
          deleteRecursively(Paths.get(tableDir, dataSub.get))
          throw e
      }
    }

    // per-staged-file zone stats: one scan of the just-written (small) data
    // dir covering the legacy single column and every multi-zone column at
    // once; Double.toString round-trips exactly, so the pruning compare
    // sees the same values min/max saw. All-null files record nothing
    // (always candidates — safe). Legacy single-col keys stay "zone:<f>";
    // multi-dim stats ride "zone:<col>:<f>" (file names contain '/', a
    // column name cannot, so the two key spaces never collide).
    val statCols =
      (if (metaOnly) Seq.empty else (zoneCol.toSeq ++ multiZoneCols)).distinct
    val zoneMeta: Seq[String] = (if (statCols.isEmpty) Seq.empty[String] else {
      val aggs = statCols.zipWithIndex.flatMap { case (zc, i) =>
        Seq(min(col(zc).cast("double")).as(s"mn$i"),
          max(col(zc).cast("double")).as(s"mx$i")) }
      val stats = df.sparkSession.read
        .parquet(Paths.get(tableDir, dataSub.get).toString)
        .groupBy(input_file_name().as("f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      stats.flatMap { r =>
        val name = r.getString(0).split('/').last
        statCols.zipWithIndex.flatMap { case (zc, i) =>
          val (mnI, mxI) = (1 + 2 * i, 2 + 2 * i)
          // all-null files record nothing; NaN poisons max() (NaN sorts
          // above every double and NaN-comparisons are all false, so a
          // recorded NaN bound would wrongly PRUNE the file) — leave such
          // files stat-less, i.e. always candidates
          if (r.isNullAt(mnI) || r.getDouble(mnI).isNaN || r.getDouble(mxI).isNaN)
            Seq.empty[String]
          else {
            val v = s"${r.getDouble(mnI)},${r.getDouble(mxI)}"
            (if (zoneCol.contains(zc)) Seq(s"zone:${dataSub.get}/$name=$v")
             else Seq.empty) ++
              (if (multiZoneCols.contains(zc))
                Seq(s"zone:$zc:${dataSub.get}/$name=$v") else Seq.empty)
          }
        }
      }.toSeq
    }) ++ zoneCol.map(zc => s"zonecol=$zc") ++
      (if (multiZoneCols.nonEmpty)
        Seq(s"zonecols=${multiZoneCols.mkString(",")}") else Seq.empty)

    var attempt = 0
    while (attempt < 64) {
      // a non-transactional commit must never land while a multi-table
      // transaction holds this table: it could take the slot the txn's
      // pending manifest is about to claim, or (worse) land ABOVE an
      // invisible pending manifest without carrying its files. The full
      // guard (lock + pending-slot scan) runs at the numbering step below,
      // inside the CAS retry loop, so a txn opening mid-retry is caught.
      txn match {
        case None => ()
        case Some(h) =>
          val held = SnapshotTxn.openTxnId(tableDir)
          require(held.contains(h.txid),
            s"transaction ${h.txid} does not hold the lock on $tableDir (held: $held)")
          // one staged commit per table per transaction: a second pending
          // manifest would base on the pre-txn snapshot (its sibling is
          // invisible) and silently drop the first one's files
          val tip = rawVersions(tableDir).lastOption
          if (tip.exists(t => snapshot(tableDir, t).meta.get("txn").contains(h.txid))) {
            dataSub.foreach(ds => deleteRecursively(Paths.get(tableDir, ds)))
            throw new ConcurrentCommitException(
              s"transaction ${h.txid} already staged a commit on $tableDir")
          }
      }
      val prev = latestVersion(tableDir).map(snapshot(tableDir, _))
      // copy-on-write commits (upsert) asserted the version their file
      // rewrite was derived from: a concurrent commit in between means the
      // rewritten rows are stale — abort, never retry blindly (the caller
      // re-reads and re-merges). The staged dir is deleted here; a crash
      // before this line leaves it to vacuum's orphan sweep.
      if (expectedVersion.exists(ev => prev.map(_.version) != Some(ev))) {
        dataSub.foreach(ds => deleteRecursively(Paths.get(tableDir, ds)))
        throw new ConcurrentCommitException(
          s"table $tableDir moved past expected version ${expectedVersion.get} during a rewrite commit")
      }
      val base = if (replace) Seq.empty
        else prev.map(_.files.filterNot(dropFiles)).getOrElse(Seq.empty)
      // stream watermarks carry forward into EVERY manifest (replace and
      // other writers' appends included): the exactly-once guarantee must
      // survive vacuum dropping the manifest that originally recorded a
      // watermark. Zone stats carry only for files that stay visible (an
      // append keeps the prior files, a replace drops them), plus the
      // recorded zone column. extraMeta/zoneMeta (this commit's own keys)
      // win on key.
      val prevMeta = prev.map(_.meta).getOrElse(Map.empty)
      // appending with a DIFFERENT zone column invalidates the old files'
      // stats (they describe the wrong column — carrying them would prune
      // on garbage); those files fall back to always-candidate
      val zoneColChanged =
        zoneCol.exists(zc => prevMeta.get("zonecol").exists(_ != zc)) ||
          (multiZoneCols.nonEmpty && prevMeta.get("zonecols")
            .exists(_ != multiZoneCols.mkString(",")))
      // schema policy: replace stamps the incoming schema; append merges it
      // into the previous version's recorded schema by name (see
      // mergeSchemas). An append onto a legacy table (no recorded schema)
      // records nothing — inventing an "authoritative" schema without
      // knowing the old files' columns would be a lie readers act on.
      val schemaEntry: Option[(String, String)] =
        if (schemaOverride.isDefined) Some("schema" -> schemaOverride.get.json)
        else if (metaOnly) prevMeta.get("schema").map("schema" -> _)
        else if (replace || prev.isEmpty) Some("schema" -> df.schema.json)
        else prev.get.meta.get("schema").map { pj =>
          val merged = mergeSchemas(
            DataType.fromJson(pj).asInstanceOf[StructType], df.schema)
          "schema" -> merged.json
        }
      // the deletion-vector pointer carries only through PURE APPENDS: a
      // replace empties the file set the DV describes, and a merge commit
      // (materializeDeletes, upsert-class rewrites) IS the materialization
      // of the DV'd files — carrying it would re-delete rewritten rows
      // a constraint added OR redefined (drop + re-add under the same
      // name, different predicate) between enforcement and this CAS round
      // was never validated against the staged rows — abort, never
      // publish. Compared as (key, predicate) ENTRIES, not key names.
      val validatedEntries =
        checkSqls.map { case (k, p) => s"check:$k" -> p }.toSet
      if (!metaOnly && !prevMeta.filter(_._1.startsWith("check:")).toSet
          .forall(e => validatedEntries(e) || dropMetaKeys(e._1))) {
        dataSub.foreach(ds => deleteRecursively(Paths.get(tableDir, ds)))
        throw new ConcurrentCommitException(
          s"a CHECK constraint landed on $tableDir during this commit — retry")
      }
      val carried = prevMeta.view.filterKeys(k =>
          k.startsWith("stream:") || k.startsWith("check:") ||
            (!replace && dropFiles.isEmpty && k == "dv") ||
            (!replace && !zoneColChanged &&
              (k.startsWith("zone:") || k == "zonecol" || k == "zonecols")))
        .filterKeys(k => !dropMetaKeys(k))
        // a rewritten (dropped) file's stats describe rows that just moved
        // (the multi-zone "zone:<col>:<f>" form strips to "<col>:<f>" —
        // never a file name, so only exact per-file keys match dropFiles)
        .filterKeys(k => !(k.startsWith("zone:") &&
          (dropFiles(k.stripPrefix("zone:")) ||
            dropFiles(k.stripPrefix("zone:").dropWhile(_ != ':').drop(1)))))
        .toMap ++
        (extraMeta ++ zoneMeta)
          .map { l => val Array(k, value) = l.split("=", 2); k -> value }.toMap ++
        schemaEntry ++
        txn.map(h => Map("txn" -> h.txid, "txnd" -> h.txnDir)).getOrElse(Map.empty)
      // v derives from the SAME prev snapshot the base/carried state was
      // read from — a second latestVersion() read here would let a racer
      // land in between and this commit take a higher, free version number
      // with the CAS succeeding while silently dropping the racer's files
      // and stream watermarks (lost update)
      // numbering comes from the RAW slot listing (aborted tombstones
      // still claim their numbers); for non-transactional commits the
      // same step re-validates the txn lock and scans for pending slots
      val v = txn match {
        case None =>
          try nextSlotGuarded(tableDir, prev.map(_.version).getOrElse(0L))
          catch {
            case e: ConcurrentCommitException =>
              dataSub.foreach(ds => deleteRecursively(Paths.get(tableDir, ds)))
              throw e
          }
        case Some(_) =>
          math.max(prev.map(_.version).getOrElse(0L),
            rawVersions(tableDir).lastOption.getOrElse(0L)) + 1
      }
      val op = opOverride.getOrElse(
        if (replace) "replace" else if (dropFiles.nonEmpty) "merge" else "append")
      // `ts` = wall-clock millis at manifest WRITE time, stamped fresh on
      // every commit (never carried): the TIMESTAMP AS OF resolution
      // anchor. Best-effort by nature — clock skew across writers can make
      // it non-monotonic in version order, so resolution scans versions in
      // ORDER and takes the last one at-or-before the asked instant
      // (the Iceberg commit-timestamp posture); version numbers remain the
      // only total order.
      val body =
        (Seq(s"version=$v", s"op=$op", s"ts=${System.currentTimeMillis()}")
          ++ carried.toSeq.sortBy(_._1).map { case (k, value) => s"$k=$value" }
          ++ base ++ staged)
          .mkString("", "\n", "\n")
      val tmp = Files.createTempFile(snapDir(tableDir), s".v$v-", ".tmp")
      Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try {
        // hard-link creation is the atomic CAS: fails iff the version was
        // taken by a concurrent committer — then recompute base + retry
        Files.createLink(manifestPath(tableDir, v), tmp)
        Files.deleteIfExists(tmp)
        return v
      } catch {
        case _: FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          attempt += 1
      }
    }
    throw new ConcurrentCommitException(
      s"lost the commit race $attempt times in $tableDir — livelocked writers?")
  }

  private[sources] def deleteRecursively(dir: Path): Unit =
    if (Files.isDirectory(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
    }

  private def listParquet(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))
      .toSeq.sorted
    finally s.close()
  }

  /** Recursive sibling of [[listParquet]]: relative paths (may contain
    * subdirs like `b3/part-...parquet`); only the FILE name is
    * filtered on the hidden-prefix rule — nested layout dirs are legitimate path segments. */
  private def listParquetRec(dir: Path): Seq[String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map(p => dir.relativize(p).toString)
      .filter { rel =>
        val name = Paths.get(rel).getFileName.toString
        name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")
      }
      .toSeq.sorted
    finally s.close()
  }
}
