package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{abs, broadcast, coalesce, col, greatest,
  input_file_name, isnan, least, lit, max, min, when}
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
    * `meta` carries the key=value header lines (op, schema, zone stats,
    * deletion-vector pointer). */
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
    * manifest writer that is not itself transactional (commit, restore):
    * refuses while a multi-table transaction holds the
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

  /** Append `df` as a new snapshot; returns the committed version. */
  def commitAppend(df: DataFrame, tableDir: String): Long =
    commit(df, tableDir, replace = false)

  /** Replace the table contents with `df` as a new snapshot. */
  def commitReplace(df: DataFrame, tableDir: String): Long =
    commit(df, tableDir, replace = true)

  /** OPTIMIZE ZORDER BY (a, b): rewrite the table Morton-ordered on the
    * two columns' 16-bit min/max-scaled ranks and record BOTH columns'
    * per-file zone stats. After z-ordering, file bounding boxes tile the
    * 2-D space, so the catalog scan's runtime file pruning skips files on
    * EITHER column. The scaling is layout-only (stats come from the real
    * values). */
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
    // ranks scale between the FINITE bounds and clamp to the 16-bit grid:
    // ±Infinity lands on an edge and NaN (which Spark orders above every
    // double) on the top one. An unclamped NaN or infinite rank fails the
    // long cast under ANSI mode. A NULL value keeps a NULL rank (`greatest`
    // would skip it and give 0).
    def finite(c: Column): Column = {
      val d = c.cast("double")
      when(!isnan(d) && abs(d) =!= Double.PositiveInfinity, d)
    }
    val mm = df.agg(
      min(finite(col(colA))).as("__mna"),
      max(finite(col(colA))).as("__mxa"),
      min(finite(col(colB))).as("__mnb"),
      max(finite(col(colB))).as("__mxb"))
    def scale(c: Column, mn: Column, mx: Column): Column =
      when(mx === mn, lit(0L)).when(c.isNotNull,
        least(greatest((c.cast("double") - mn) / (mx - mn) * 65535.0, lit(0.0)),
          lit(65535.0)).cast("long"))
    val laid = df.crossJoin(broadcast(mm))
      .withColumn("__c", curve(
        scale(col(colA), col("__mna"), col("__mxa")),
        scale(col(colB), col("__mnb"), col("__mxb"))))
      .repartitionByRange(numFiles, col("__c"))
      .sortWithinPartitions("__c")
      .drop("__c", "__mna", "__mxa", "__mnb", "__mxb")
    commit(laid, tableDir, replace = true, multiZoneCols = Seq(colA, colB))
  }

  /** OPTIMIZE HILBERT BY (a, b): [[compactZOrder]] with the Hilbert curve
    * instead of Morton. Consecutive Hilbert positions are always
    * grid-adjacent (Morton jumps diagonals at power-of-two boundaries),
    * so the row-count-driven file cuts — which land at arbitrary curve
    * offsets, exactly where Morton's jumps inflate bounding boxes — get
    * tighter per-file 2-D bounds at the same file count
    * (`HilbertSpec` measures the win). Same zone-stat recording. */
  def compactHilbert(spark: SparkSession, tableDir: String,
                     colA: String, colB: String, numFiles: Int): Long =
    compactByCurve(spark, tableDir, colA, colB, numFiles,
      (a, b) => graft.functions.Hilbert.index(a, b, bits = 16))

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
      .filter(!coalesce(predicate, lit(false)))
    commit(kept, tableDir, replace = false,
      dropFiles = touched.toSet, expectedVersion = Some(v))
  }

  /** RESTORE — roll the table back to `version`'s contents as a NEW
    * commit referencing that version's files BY REFERENCE (zero copy, the
    * Delta RESTORE semantics): history stays intact, the bad commits
    * remain time-travelable until vacuum, and readers pinned to them are
    * unaffected. Carried from the RESTORED version: schema, zone stats
    * and deletion vector — its whole physical truth; the `ts` stamp is the
    * restore's own. Single-shot
    * CAS: a concurrent commit aborts the restore (the caller re-reads and
    * decides — blind retry could roll back someone else's write). */
  def restoreVersion(tableDir: String, version: Long): Long = {
    val cur = latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"restore on empty table $tableDir"))
    if (version == cur) return cur
    val snap = snapshot(tableDir, version) // throws if vacuumed
    // the restore's own commit time, never the restored version's: a
    // carried stamp would let TIMESTAMP AS OF an instant before the restore
    // resolve to it
    val carried = snap.meta.view.filterKeys(k =>
      !(k == "version" || k == "op" || k == "restored_from" || k == "ts")).toMap
    val v = nextSlotGuarded(tableDir, cur)
    val body = (Seq(s"version=$v", "op=restore", s"restored_from=$version",
        s"ts=${System.currentTimeMillis()}")
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

  /** ALTER TABLE ADD COLUMNS — a METADATA-ONLY schema-evolution commit:
    * the new fields append (forced nullable — every existing row
    * null-fills them, exactly the append-merge policy) and no data file
    * moves. Refuses duplicates case-insensitively (Spark resolution is
    * case-insensitive by default) and legacy tables without a recorded
    * schema (inventing one would be a lie readers act on). */
  def addColumns(spark: SparkSession, tableDir: String,
                 fields: Seq[StructField]): Long = {
    require(fields.nonEmpty, "addColumns with no fields")
    val v = latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"addColumns on empty table $tableDir"))
    val cur = versionSchema(snapshot(tableDir, v)).getOrElse(sys.error(
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
    * Copy-on-write operations (upsert, deleteWhere) REFUSE to run while a
    * vector is outstanding — run
    * [[materializeDeletes]] first; compaction reads through [[read]] and
    * therefore materializes implicitly. Same optimistic concurrency and
    * NULL-keeps predicate semantics as [[deleteWhere]]. */
  def deleteWhereMor(spark: SparkSession, tableDir: String,
                     predicate: Column,
                     asOfVersion: Option[Long] = None): Long = {
    val v = asOfVersion.orElse(latestVersion(tableDir)).getOrElse(
      throw new IllegalArgumentException(s"deleteWhereMor on empty table $tableDir"))
    val snap = snapshot(tableDir, v)
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

  private def consumersDir(tableDir: String): Path = Paths.get(tableDir, "_consumers")
  // greedy id group: the LAST 8-digit field is the ack sequence, so
  // consumer ids may themselves contain '-'. The consumed-through VERSION
  // lives INSIDE the file: the CAS must race on the sequence alone — two
  // workers acking the same poll window at different latest versions must
  // collide on one filename, not link two files for one sequence.
  private val OffsetRe = "(.+)-(\\d{8})\\.offset".r

  /** Current durable offset of `consumerId`: (ack sequence, table version
    * consumed through), None if the consumer has never acked. */
  private[sources] def consumerOffset(tableDir: String, consumerId: String): Option[(Long, Long)] = {
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
    * Carried into the clone's v1 manifest: schema, zone columns and
    * per-file zone stats, and the deletion vector (all are properties of
    * the FILE SET, which clone preserves byte-for-byte). The `ts` stamp is
    * the clone's own. */
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
      .filterKeys(k => k == "schema" || k == "zonecols" || k == "dv" ||
        k.startsWith("zone:"))
      .toMap + ("cloned_from" ->
        s"${Paths.get(srcDir).toAbsolutePath}@v$version")
    // the clone's own commit time: TIMESTAMP AS OF resolves on it
    val body =
      (Seq("version=1", "op=clone", s"ts=${System.currentTimeMillis()}")
        ++ carried.toSeq.sortBy(_._1).map { case (k, value) => s"$k=$value" }
        ++ snap.files)
        .mkString("", "\n", "\n")
    val tmp = Files.createTempFile(snapDir(destDir), ".v1-", ".tmp")
    Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.createLink(manifestPath(destDir, 1L), tmp) // CAS: racer loses loudly
    Files.deleteIfExists(tmp)
    1L
  }

  private[sources] def commit(
      df: DataFrame, tableDir: String, replace: Boolean,
      extraMeta: Seq[String] = Seq.empty,
      multiZoneCols: Seq[String] = Seq.empty,
      dropFiles: Set[String] = Set.empty,
      expectedVersion: Option[Long] = None,
      stagedDataSub: Option[String] = None,
      metaOnly: Boolean = false,
      opOverride: Option[String] = None,
      txn: Option[SnapshotTxn.Handle] = None,
      schemaOverride: Option[StructType] = None): Long = {
    init(tableDir)
    txn.foreach { h =>
      require(h.tables.contains(Paths.get(tableDir).toAbsolutePath.toString),
        s"$tableDir is not part of transaction ${h.txid}")
    }
    // stage immutable data files under a unique dir (never visible until a
    // manifest references them); the SQL row-level write stages through
    // its own executor-side writers and passes the dir in. metaOnly
    // commits (merge-on-read deletes) stage NO data files — the manifest
    // carries the previous file list and only the meta changes; `df` is
    // ignored.
    val dataSub: Option[String] =
      if (metaOnly) None
      else Some(stagedDataSub.getOrElse {
        val ds = s"data-${java.util.UUID.randomUUID().toString}"
        df.write.mode(SaveMode.ErrorIfExists).parquet(Paths.get(tableDir, ds).toString)
        ds
      })
    val staged = dataSub.fold(Seq.empty[String]) { ds =>
      listParquet(Paths.get(tableDir, ds)).map(p => s"$ds/$p")
    }

    // per-staged-file zone stats: one scan of the just-written (small) data
    // dir covering every zone column at once; Double.toString round-trips
    // exactly, so the pruning compare sees the same values min/max saw.
    // Stats ride "zone:<col>:<f>" keys.
    val statCols = if (metaOnly) Seq.empty else multiZoneCols
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
          else Seq(s"zone:$zc:${dataSub.get}/$name=${r.getDouble(mnI)},${r.getDouble(mxI)}")
        }
      }.toSeq
    }) ++
      (if (statCols.nonEmpty) Seq(s"zonecols=${statCols.mkString(",")}") else Seq.empty)

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
      // Zone stats carry only for files that stay visible (an append keeps
      // the prior files, a replace drops them), plus the recorded zone
      // columns. Only a replace (compactZOrder/compactHilbert) records
      // new stats, so carried and fresh stats never mix. extraMeta/zoneMeta
      // (this commit's own keys) win on key.
      val prevMeta = prev.map(_.meta).getOrElse(Map.empty)
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
      val carried = prevMeta.view.filterKeys(k =>
          (!replace && dropFiles.isEmpty && k == "dv") ||
            (!replace && (k.startsWith("zone:") || k == "zonecols")))
        // a rewritten (dropped) file's stats describe rows that just moved:
        // "zone:<col>:<f>" names its file after the second ':'
        .filterKeys(k => !(k.startsWith("zone:") &&
          dropFiles(k.stripPrefix("zone:").dropWhile(_ != ':').drop(1))))
        .toMap ++
        (extraMeta ++ zoneMeta)
          .map { l => val Array(k, value) = l.split("=", 2); k -> value }.toMap ++
        schemaEntry ++
        txn.map(h => Map("txn" -> h.txid, "txnd" -> h.txnDir)).getOrElse(Map.empty)
      // v derives from the SAME prev snapshot the base/carried state was
      // read from — a second latestVersion() read here would let a racer
      // land in between and this commit take a higher, free version number
      // with the CAS succeeding while silently dropping the racer's files
      // (lost update)
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
}
