package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.{Collections, Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.Group
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL surface for [[SnapshotTable]] — a DataSourceV2 `TableCatalog` that
  * exposes snapshot-table directories as plain SQL tables WITH TIME TRAVEL:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft_snap",
  *     classOf[GraftSnapshotCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft_snap.warehouse", dir)
  *   spark.sql("SELECT * FROM graft_snap.t")                    // latest
  *   spark.sql("SELECT * FROM graft_snap.t VERSION AS OF 3")    // pinned
  * }}}
  *
  * `VERSION AS OF` binds to `loadTable(ident, version)` — the catalog
  * resolves the manifest for that version and serves EXACTLY its file
  * list, so SQL readers get the same snapshot isolation as the
  * programmatic API. The scan plans one input partition per data file and
  * reads it with a low-level parquet reader ([[RowGroups]]), which means
  * pushed comparison filters skip whole ROW GROUPS on footer stats before any
  * page I/O, and column projection reaches the file reader — a 100 TB
  * time-travel query reads only the surviving groups of the pinned
  * version's files.
  *
  * SQL DML is supported on the UNPINNED relation: `INSERT INTO` appends
  * (a normal snapshot commit), `INSERT OVERWRITE` replaces,
  * and `DELETE FROM … WHERE …` runs the copy-on-write
  * [[SnapshotTable.deleteWhere]] (not the merge-on-read variant, so the
  * table stays SQL-readable afterwards). `MERGE INTO` and `UPDATE` (and
  * DELETEs whose condition can't translate to source filters) ride the
  * DSv2 row-level-operations surface ([[GraftRowLevelOperation]]):
  * group-based copy-on-write, FILE-GRANULAR via `_file` runtime group
  * filtering, and optimistic conflict abort against the resolved snapshot version. DML against a
  * `VERSION AS OF` relation is refused at analysis — it would silently
  * target the latest version instead of the pinned one.
  *
  * Merge-on-read deletes are SQL-READABLE: a version with an outstanding
  * deletion vector serves through the same scan, each file's reader
  * loading its own deleted positions from the DV sidecar and skipping
  * them while it tracks row indexes (the Delta/Iceberg position-delete
  * read path). The driver prunes DV work to exactly the files the vector
  * touches (one bounded distinct-files job — manifest scale, never
  * rows), so untouched files pay nothing. SQL `DELETE` on a DV-enabled
  * table (one with an outstanding vector) rides [[SnapshotTable.deleteWhereMor]]
  * — the copy-on-write path would refuse — so a MOR table stays
  * maintainable entirely through SQL. MERGE/UPDATE still refuse under an
  * outstanding vector (their rewrite commit cannot yet carry the DV for
  * untouched files — `materializeDeletes` first), loudly at analysis. */
class GraftSnapshotCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with StagingTableCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
      .getOrElse(sys.error(s"set spark.sql.catalog.$name.warehouse"))
  }
  override def name(): String = catalogName

  private def dirFor(ident: Identifier): JPath =
    Paths.get(warehouse, (ident.namespace() :+ ident.name()): _*)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = Paths.get(warehouse, namespace: _*)
    if (!Files.isDirectory(d)) Array.empty
    else Files.list(d).iterator().asScala
      .filter(p => Files.isDirectory(p.resolve("_snapshots")))
      .map(p => Identifier.of(namespace, p.getFileName.toString)).toArray
  }

  private def tableAt(ident: Identifier, version: Option[Long]): Table = {
    val dir = dirFor(ident)
    val latest = SnapshotTable.latestVersion(dir.toString).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
    val v = version.getOrElse(latest)
    require(SnapshotTable.versions(dir.toString).contains(v),
      s"$ident has no version $v (latest is $latest — vacuumed or never committed)")
    // only the UNPINNED relation is writable: an INSERT/DELETE against a
    // VERSION AS OF relation would silently target the latest instead of
    // the version the user named — refuse at analysis
    new GraftSnapshotVersionTable(dir.toString, v, writable = version.isEmpty)
  }

  /** `t$history` / `t$files` route to read-only METADATA tables (the
    * Iceberg-style inspection surface, quoted as `` graft_snap.`t$files` ``);
    * '$' is reserved in catalog table names for this. */
  private def metaTableFor(ident: Identifier, version: Option[Long]): Option[Table] = {
    val n = ident.name()
    val di = n.lastIndexOf('$')
    if (di <= 0) None
    else {
      val dir = dirFor(Identifier.of(ident.namespace(), n.substring(0, di))).toString
      if (SnapshotTable.latestVersion(dir).isEmpty)
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
      Some(GraftMetaTables.table(dir, n, n.substring(di + 1), version))
    }
  }

  override def loadTable(ident: Identifier): Table =
    metaTableFor(ident, None).getOrElse(tableAt(ident, None))

  /** `VERSION AS OF <v>` — the time-travel entry point (metadata tables
    * pin too: `` t$files VERSION AS OF 3 `` lists version 3's files). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toLong
      catch { case _: NumberFormatException =>
        sys.error(s"VERSION AS OF wants a numeric snapshot version, got '$version'") }
    metaTableFor(ident, Some(v)).getOrElse(tableAt(ident, Some(v)))
  }

  /** `TIMESTAMP AS OF <t>` — resolves to the LAST version (in version
    * order, the only total order) whose commit timestamp is at or before
    * the instant; `timestamp` arrives in MICROseconds since epoch.
    * Manifests are stamped at write time (`ts=` millis, every commit
    * kind), so resolution is best-effort wall-clock, the Iceberg
    * commit-timestamp posture — clock skew across writers can make ts
    * non-monotonic, which is why the scan walks versions, not
    * timestamps. Pre-stamping manifests (or an instant before the first
    * stamped commit) refuse with a pointer to VERSION AS OF. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirFor(ident)
    val vs = SnapshotTable.versions(dir.toString)
    if (vs.isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    // header-only manifest reads (ts= precedes the file list) — a full
    // snapshot() parse per version would be O(versions × manifest size)
    val stamped = vs.flatMap(v =>
      SnapshotTable.commitTsOf(dir.toString, v).map(t => (v, t)))
    require(stamped.nonEmpty,
      s"$ident has no commit timestamps (manifests predate ts stamping) — " +
        "use VERSION AS OF <n>")
    val hit = stamped.filter(_._2 * 1000L <= timestamp).map(_._1).lastOption
    val v = hit.getOrElse(sys.error(
      s"$ident has no snapshot at or before the asked instant (earliest " +
        s"stamped commit is v${stamped.head._1}) — use VERSION AS OF <n> " +
        "for pre-history reads"))
    new GraftSnapshotVersionTable(dir.toString, v, writable = false)
  }

  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table =
    sys.error("CREATE TABLE without AS SELECT is not supported (an empty " +
      "snapshot commit would record no usable layout) — use CREATE TABLE " +
      "… AS SELECT, or bootstrap with a graft.sources.SnapshotTable commit")

  /** CREATE TABLE … AS SELECT — ATOMIC through the staging protocol: the
    * query result lands as version 1 of a snapshot table built in a
    * hidden `warehouse/.ctas/<uuid>/` staging root, and the table becomes
    * visible only when `commitStagedChanges` RENAMES the directory into
    * place (one POSIX rename — fails if a rival CTAS won the race; a
    * failed query aborts by deleting the staging root, leaving no
    * half-created table behind). Partition transforms are refused — the
    * layout surface is `CALL optimize`. */
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    require(info.partitions().isEmpty,
      "CTAS with PARTITIONED BY is not supported — lay out with " +
        "CALL optimize (curve compaction)")
    val dest = dirFor(ident)
    if (Files.isDirectory(dest.resolve("_snapshots")))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    val stagingRoot = Paths.get(warehouse, ".ctas",
      java.util.UUID.randomUUID().toString)
    // construct (= validate the schema) BEFORE creating the staging root:
    // a refusal here must not leak an orphan .ctas/<uuid>/ dir — Spark
    // never calls abortStagedChanges on a stageCreate that threw
    val staged = new GraftStagedCtasTable(ident, info.schema(),
      stagingRoot, stagingRoot.resolve(ident.name()), Some(dest))
    Files.createDirectories(stagingRoot)
    staged
  }

  /** REPLACE TABLE … AS SELECT — the query result lands as ONE
    * `commitReplace` on the existing table (a new snapshot version:
    * history and time travel survive, unlike a drop-and-recreate). The commit happens inside the write itself, so
    * a failed query leaves the table untouched; commit/abort staging
    * hooks are no-ops. */
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    require(info.partitions().isEmpty,
      "RTAS with PARTITIONED BY is not supported — lay out with " +
        "CALL optimize (curve compaction)")
    val dest = dirFor(ident)
    if (!Files.isDirectory(dest.resolve("_snapshots")))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    new GraftStagedCtasTable(ident, info.schema(), null, dest, None)
  }

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    if (Files.isDirectory(dirFor(ident).resolve("_snapshots"))) stageReplace(ident, info)
    else stageCreate(ident, info)
  /** `ALTER TABLE … ADD COLUMNS (…)` — a metadata-only schema-evolution
    * commit ([[SnapshotTable.addColumns]]): existing rows null-fill the
    * new columns, no data file moves, history keeps serving. Everything
    * else (DROP/RENAME/ALTER COLUMN) refuses: they would need column
    * mapping the manifest format deliberately doesn't carry. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirFor(ident).toString
    if (SnapshotTable.latestVersion(dir).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val adds = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          s"nested column adds are not supported (${a.fieldNames().mkString(".")})")
        require(a.isNullable,
          s"new column ${a.fieldNames()(0)} must be nullable — existing rows " +
            "have no value for it")
        require(a.position() == null,
          "FIRST/AFTER positions are not supported — new columns append")
        // the CTAS rule applies here too: an ALTER must never commit a
        // schema the catalog then refuses to serve (the metadata commit
        // would land BEFORE the load-time refusal fires, bricking every
        // later SELECT until a programmatic restoreVersion)
        require(a.dataType() match {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.StringType => true
          case _ => false
        }, s"column ${a.fieldNames()(0)}: ${a.dataType().simpleString} is not " +
          "servable by the SQL catalog reader (bigint/int/double/string) — " +
          "evolve the schema with a programmatic commit instead")
        require(a.fieldNames()(0) != "_file",
          "_file collides with the catalog's metadata column")
        org.apache.spark.sql.types.StructField(a.fieldNames()(0), a.dataType())
      case other => sys.error(
        s"unsupported ALTER ${other.getClass.getSimpleName} — only ADD COLUMNS " +
          "(nullable, appended) is supported on snapshot tables")
    }
    SnapshotTable.addColumns(org.apache.spark.sql.SparkSession.active, dir, adds)
    loadTable(ident)
  }
  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirFor(ident)
    if (!Files.exists(dir)) false
    else { SnapshotTable.deleteRecursively(dir); true }
  }
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    Files.move(dirFor(oldIdent), dirFor(newIdent))

  /** SQL MAINTENANCE surface — the commands a SQL-only user needs to keep
    * a snapshot table healthy, as DSv2 procedures:
    * {{{
    *   CALL graft_snap.optimize('t', 'hilbert', 'a', 'b', 8)  -- curve compaction
    *   CALL graft_snap.vacuum('t', 3)                         -- retention
    *   CALL graft_snap.materialize_deletes('t')               -- fold MOR vectors
    * }}}
    * All three REFUSE while a multi-table transaction is open on the
    * table (optimize commits through the guarded slot path; vacuum and
    * the procedures check the lock), so SQL maintenance can never race a
    * transactional writer. */
  override def listProcedures(namespace: Array[String])
    : Array[Identifier] =
    GraftProcedures.Names.map(n => Identifier.of(namespace, n)).toArray
  override def loadProcedure(ident: Identifier)
    : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(GraftProcedures.Names.contains(ident.name()),
      s"unknown procedure ${ident.name()} — available: " +
        GraftProcedures.Names.mkString(", "))
    new GraftProcedures.Proc(warehouse, ident.name())
  }
}

/** The catalog's maintenance procedures (one class, dispatch by name —
  * the surface is three fixed signatures). Side-effecting: `call` returns
  * no result scans; effects are observable through the table itself
  * (new version, dropped history, cleared dv pointer). */
private[sources] object GraftProcedures {
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.types.{IntegerType, StringType}

  val Names: Seq[String] =
    Seq("optimize", "vacuum", "materialize_deletes", "history", "restore", "clone")

  class Proc(warehouse: String, procName: String)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procName match {
      case "optimize" =>
        "rewrite the table space-filling-curve-clustered on two columns " +
          "(curve = 'zorder' | 'hilbert') into num_files files, recording " +
          "both columns' per-file zone stats"
      case "vacuum" =>
        "drop manifests older than the newest keep_versions and delete " +
          "data files no retained manifest references"
      case "history" =>
        "the table's retained commit history, newest first: " +
          "(version, op, ts_millis, n_files)"
      case "restore" =>
        "zero-copy rollback: commit a new version serving exactly the " +
          "named version's files (history preserved, nothing rewritten)"
      case "clone" =>
        "zero-copy clone of the named version into a NEW table under the " +
          "warehouse (hard links pin the data; either side vacuums freely)"
      case _ =>
        "fold outstanding merge-on-read deletion vectors into the data " +
          "(file-granular copy-on-write), making the table join-free again"
    }
    override def bind(inputType: org.apache.spark.sql.types.StructType)
      : BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = procName match {
      case "optimize" => Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("curve", StringType).build(),
        ProcedureParameter.in("col_a", StringType).build(),
        ProcedureParameter.in("col_b", StringType).build(),
        ProcedureParameter.in("num_files", IntegerType).defaultValue("8").build())
      case "vacuum" => Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("keep_versions", IntegerType).build())
      case "restore" => Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("version", IntegerType).build())
      case "clone" => Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("version", IntegerType).build(),
        ProcedureParameter.in("dest", StringType).build())
      case _ => Array(
        ProcedureParameter.in("table", StringType).build())
    }
    // history READS (no write, no txn hazard): bypass the open-txn gate.
    // Rows/schema shared with the `t$history` metadata table
    // (GraftMetaTables) — one definition, two SQL spellings.
    // named histRows, NOT rows: inside the anonymous LocalScan the
    // override `def rows()` would shadow a local named `rows` and the
    // body would recurse on ITSELF forever (cost one hung test run)
    private def historyScan(dir: String)
      : org.apache.spark.sql.connector.read.Scan = {
      val histRows = GraftMetaTables.historyRows(dir, None)
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = histRows
        override def readSchema(): org.apache.spark.sql.types.StructType =
          GraftMetaTables.historySchema
        override def description(): String = s"GraftHistoryScan($dir)"
      }
    }
    private def dirOf(table: String): String = {
      val dir = Paths.get(warehouse, table.split("\\."): _*).toString
      require(SnapshotTable.latestVersion(dir).nonEmpty,
        s"$procName: no snapshot table at $dir")
      // SQL maintenance refuses under an open multi-table transaction:
      // optimize's commit would refuse anyway (guarded slot path), and a
      // SQL operator cannot see transaction state to judge a vacuum —
      // loud and uniform across all three procedures
      if (Files.exists(SnapshotTable.openTxnPath(dir)))
        throw new SnapshotTable.ConcurrentCommitException(
          s"$procName: a multi-table transaction is open on $dir — " +
            "run maintenance after it resolves")
      dir
    }
    override def call(input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val spark = org.apache.spark.sql.SparkSession.active
      if (procName == "history") {
        // read-only: no txn gate (dirOf enforces it for the mutators)
        val dir = Paths.get(warehouse,
          input.getUTF8String(0).toString.split("\\."): _*).toString
        require(SnapshotTable.latestVersion(dir).nonEmpty,
          s"history: no snapshot table at $dir")
        return java.util.List.of(historyScan(dir)).iterator()
      }
      val dir = dirOf(input.getUTF8String(0).toString)
      procName match {
        case "optimize" =>
          val curve = input.getUTF8String(1).toString.toLowerCase
          val (a, b) = (input.getUTF8String(2).toString,
            input.getUTF8String(3).toString)
          val nf = input.getInt(4)
          curve match {
            case "zorder"  => SnapshotTable.compactZOrder(spark, dir, a, b, nf)
            case "hilbert" => SnapshotTable.compactHilbert(spark, dir, a, b, nf)
            case other => sys.error(
              s"optimize: unknown curve '$other' (zorder | hilbert)")
          }
        case "vacuum" =>
          SnapshotTable.vacuum(dir, input.getInt(1))
        case "restore" =>
          SnapshotTable.restoreVersion(dir, input.getInt(1).toLong)
        case "clone" =>
          val dest = Paths.get(warehouse,
            input.getUTF8String(2).toString.split("\\."): _*).toString
          require(!Files.exists(Paths.get(dest)),
            s"clone: destination $dest already exists")
          SnapshotTable.cloneAt(dir, input.getInt(1).toLong, dest)
        case _ =>
          SnapshotTable.materializeDeletes(spark, dir)
      }
      java.util.Collections.emptyIterator()
    }
  }
}

/** One pinned snapshot version served as a DSv2 table. `writable` is true
  * only for the unpinned (latest) relation — SQL DML binds through it. */
class GraftSnapshotVersionTable(dir: String, version: Long,
                                writable: Boolean = false)
  extends Table with SupportsRead
  with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations with SupportsMetadataColumns {
  private val snap = SnapshotTable.snapshot(dir, version)
  // outstanding merge-on-read deletion vector: readable (the scan applies
  // it per file), and SQL DELETE routes onto the MOR path below
  private val dvDir: Option[String] =
    snap.meta.get("dv").map(s => Paths.get(dir, s).toString)
  // all-nullable, exactly like readVersion: files written before a column
  // existed null-fill it, and a non-nullable field would make Spark read
  // garbage zeros where the reader set the null bit
  private val tableSchema: StructType = snap.meta.get("schema")
    .map(j => StructType(DataType.fromJson(j).asInstanceOf[StructType]
      .fields.map(_.copy(nullable = true))))
    .getOrElse(sys.error(
      s"$dir@v$version records no schema (pre-schema-tracking manifest) — " +
        "read it with SnapshotTable.readVersion instead"))
  // the Group reader serves exactly these types; anything else must fail
  // at ANALYSIS time with a pointer to the full API, not mid-scan
  locally {
    val bad = tableSchema.fields.filterNot(f => f.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    })
    require(bad.isEmpty,
      s"$dir@v$version has columns the SQL catalog reader cannot serve " +
        s"(${bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}); " +
        "supported: bigint/int/double/string — read it with SnapshotTable.readVersion")
    // `_file` is this catalog's metadata column: a DATA column of that
    // name (legal for programmatic commits) would be silently shadowed by
    // the file path in every projection — refuse loudly instead
    require(!tableSchema.fieldNames.contains("_file"),
      s"$dir@v$version has a data column named _file, which collides with " +
        "the catalog's metadata column — rename it or read the table with " +
        "SnapshotTable.readVersion")
  }

  override def name(): String = s"$dir@v$version"
  override def schema(): StructType = tableSchema
  /** SHOW TBLPROPERTIES surface: version, op, and a restore's source. */
  override def properties(): java.util.Map[String, String] =
    (snap.meta.view.filterKeys(k => k == "op" || k == "restored_from").toMap +
      ("version" -> version.toString)).asJava
  override def capabilities(): JSet[TableCapability] =
    java.util.Set.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val files = snap.files.map(f => Paths.get(dir, f).toString).toArray
    // per-file zone stats by column, fed to the scan's RUNTIME file pruning
    // a malformed zone entry must degrade to "no stats for that file"
    // (advisory posture — pruning is an optimization, never a gate on
    // reading an intact table), not brick every SELECT
    def parse(v: String): Option[(Double, Double)] =
      scala.util.Try {
        val Array(mn, mx) = v.split(","); (mn.toDouble, mx.toDouble)
      }.toOption
    val zoneStats: Map[String, Map[String, (Double, Double)]] =
      snap.meta.get("zonecols").toSeq.flatMap(_.split(","))
        .filter(_.nonEmpty).map { c =>
          c -> snap.files.flatMap(f =>
            snap.meta.get(s"zone:$c:$f").flatMap(parse).map(f -> _)).toMap
        }.toMap
    new GraftSnapshotScanBuilder(name(), files, snap.files.toArray, dvDir,
      tableSchema, zoneStats)
  }

  private def requireWritable(what: String): Unit =
    require(writable,
      s"$what binds to the LATEST relation — a VERSION AS OF relation is read-only " +
        "(it would silently target the latest version, not the pinned one)")

  /** INSERT INTO / INSERT OVERWRITE via the V1 write fallback: the whole
    * incoming DataFrame lands as ONE snapshot commit (append or replace),
    * so SQL writers get the identical atomicity and schema-merge policy
    * as programmatic commits. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.WriteBuilder = {
    requireWritable("INSERT")
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, _: Boolean) =>
              if (overwrite) { SnapshotTable.commitReplace(data, dir); () }
              else { SnapshotTable.commitAppend(data, dir); () }
        }
    }
  }

  /** The `_file` metadata column (`SELECT _file, * FROM t` works too) —
    * the handle Spark's runtime group filtering uses to narrow row-level
    * rewrites to exactly the files containing matches. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "snapshot data file serving the row"
    })

  /** MERGE INTO / UPDATE (and DELETE with an untranslatable condition) —
    * group-based copy-on-write through [[GraftRowLevelOperation]]: Spark
    * rewrites the statement to a ReplaceData over this operation's scan,
    * runtime group filtering narrows the rewrite to the files containing
    * matches, and the commit drops exactly those files with optimistic
    * conflict abort (`expectedVersion` = the
    * version this statement resolved). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    requireWritable(info.command().toString)
    // the ReplaceData commit is a merge commit, which DROPS the dv
    // pointer (materializeDeletes' contract) — running it with entries
    // outstanding on UNTOUCHED files would silently resurrect their
    // deleted rows. SQL DELETE routes onto the MOR path via SupportsDelete
    // instead (Spark still builds this operation table for EVERY DELETE at
    // analysis and only later picks the metadata path, so the refusal for
    // DELETE lives in the write — built only if the rewrite actually
    // runs); MERGE/UPDATE refuse up front: materialize first.
    if (info.command() != org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
      require(dvDir.isEmpty,
        s"${info.command()} on $dir@v$version with an outstanding merge-on-read " +
          "deletion vector — run SnapshotTable.materializeDeletes first " +
          "(SELECT and DELETE remain available on the MOR table)")
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
        new GraftRowLevelOperation(dir, version, info.command(), tableSchema,
          dvOutstanding = dvDir.isDefined)
    }
  }

  /** DELETE FROM … WHERE … — copy-on-write by default (rewrites only the
    * files containing matches, table stays join-free to read), but a
    * DV-ENABLED table (outstanding merge-on-read vector) routes onto
    * [[SnapshotTable.deleteWhereMor]]: the CoW path refuses under a
    * vector (its raw-file rewrite would resurrect deleted rows), and the
    * MOR delete only appends positions — so once a table opts into MOR
    * deletes, SQL keeps working against it. Spark only routes a DELETE
    * here when the whole condition translated to source filters
    * ([[canDeleteWhere]]). */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    writable && filters.forall(GraftSnapshotVersionTable.toColumn(_).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    requireWritable("DELETE")
    val spark = org.apache.spark.sql.SparkSession.active
    val cond = filters.flatMap(GraftSnapshotVersionTable.toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    if (dvDir.isDefined) SnapshotTable.deleteWhereMor(spark, dir, cond)
    else SnapshotTable.deleteWhere(spark, dir, cond)
    ()
  }
}

object GraftSnapshotVersionTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  /** Source filter → Column, for the filter shapes SQL DELETE produces.
    * None = untranslatable ⇒ [[SupportsDelete.canDeleteWhere]] refuses and
    * Spark reports the DELETE as unsupported instead of half-applying. */
  private[sources] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case And(l, r)                => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case Or(l, r)                 => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(c)                   => toColumn(c).map(!_)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case AlwaysTrue()             => Some(lit(true))
    case AlwaysFalse()            => Some(lit(false))
    case _                        => None
  }
}

class GraftSnapshotScanBuilder(label: String, files: Array[String],
                               relFiles: Array[String], dvDir: Option[String],
                               full: StructType,
                               zoneStats: Map[String, Map[String, (Double, Double)]] = Map.empty)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = full
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  // advisory pruning: every filter returns as
  // residual, the reader uses the comparison-shaped subset for row-group
  // skipping on footer stats
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
    : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  /** AGGREGATE PUSHDOWN: `COUNT(*)` / `COUNT(col)` / `MIN` / `MAX` with no
    * WHERE and no GROUP BY are answered from parquet FOOTER metadata —
    * row counts and column statistics — without opening a single data
    * page. At 100 TB that turns the most common health probes into
    * manifest-scale driver I/O. The pushdown REFUSES (falls back to a
    * full scan, still correct) whenever footer truth is insufficient:
    * any residual filter (Spark only pushes filterless aggs here, but
    * guard anyway), an outstanding deletion vector (footer counts include
    * deleted rows), GROUP BY, DISTINCT, unsupported functions (sum/avg —
    * footers carry no sums), min/max on strings (parquet string stats are
    * unsigned-byte order, the zone-map caveat), or any block whose
    * statistics are absent (e.g. NaN-poisoned doubles — parquet writers
    * omit stats). Complete pushdown: the single emitted row IS the
    * result; Spark plans no re-aggregation. */
  private var aggResult: Option[(StructType, Array[Any])] = None
  private var aggMemo: Option[(org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
    Option[(StructType, Array[Any])])] = None
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    evalAgg(agg).isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = evalAgg(agg)
    aggResult.isDefined
  }

  private def evalAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(StructType, Array[Any])] = {
    aggMemo match {
      case Some((a, r)) if a == agg => return r
      case _ => ()
    }
    val r = evalAggOnce(agg)
    aggMemo = Some((agg, r))
    r
  }

  private def evalAggOnce(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(StructType, Array[Any])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    if (dvDir.isDefined || pushed.nonEmpty || agg.groupByExpressions().nonEmpty)
      return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 => Some(nr.fieldNames()(0))
        case _ => None
      }
    // spec per func: Left(()) = COUNT(*), Right((col, kind)) with kind
    // 0 = COUNT(col), 1 = MIN, 2 = MAX
    val specs = agg.aggregateExpressions().map {
      case _: CountStar => Left(())
      case c: Count if !c.isDistinct =>
        colOf(c.column()) match {
          case Some(n) if full.fieldNames.contains(n) => Right((n, 0))
          case _ => return None
        }
      case m: Min =>
        colOf(m.column()) match {
          case Some(n) if full.fieldNames.contains(n) &&
            (full(n).dataType == LongType || full(n).dataType == IntegerType ||
              full(n).dataType == DoubleType) => Right((n, 1))
          case _ => return None
        }
      case m: Max =>
        colOf(m.column()) match {
          case Some(n) if full.fieldNames.contains(n) &&
            (full(n).dataType == LongType || full(n).dataType == IntegerType ||
              full(n).dataType == DoubleType) => Right((n, 2))
          case _ => return None
        }
      case _ => return None
    }
    val needCols: Array[String] = specs.collect { case Right((n, _)) => n }.distinct
    // min/max folding applies ONLY to MIN/MAX columns — a COUNT(col) on a
    // string column must not touch its (unsigned-byte-ordered) value stats
    val mmCols: Set[String] = specs.collect { case Right((n, k)) if k != 0 => n }.toSet
    var totalRows = 0L
    val nonNull = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val mins = scala.collection.mutable.Map[String, Any]()
    val maxs = scala.collection.mutable.Map[String, Any]()
    def foldMinMax(n: String, mn: Any, mx: Any): Unit = {
      def lt(a: Any, b: Any): Boolean = (a, b) match {
        case (x: java.lang.Long, y: java.lang.Long)       => x < y
        case (x: java.lang.Integer, y: java.lang.Integer) => x < y
        case (x: java.lang.Double, y: java.lang.Double)   => x < y
        case _ => sys.error(s"unexpected stat types ${a.getClass}/${b.getClass}")
      }
      if (!mins.contains(n) || lt(mn, mins(n))) mins(n) = mn
      if (!maxs.contains(n) || lt(maxs(n), mx)) maxs(n) = mx
    }
    files.foreach { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f),
          new org.apache.hadoop.conf.Configuration()))
      try rd.getFooter.getBlocks.asScala.foreach { block =>
        val rows = block.getRowCount
        totalRows += rows
        needCols.foreach { n =>
          block.getColumns.asScala.find(_.getPath.toDotString == n) match {
            case None => () // schema evolution: file predates the column -> all null
            case Some(cc) =>
              val st = cc.getStatistics
              if (st == null || !st.isNumNullsSet) return None
              val nn = rows - st.getNumNulls
              nonNull(n) += nn
              if (nn > 0 && mmCols(n)) {
                if (!st.hasNonNullValue) return None // values exist but no min/max
                foldMinMax(n, st.genericGetMin, st.genericGetMax)
              }
          }
        }
      } finally rd.close()
    }
    val fields = specs.zipWithIndex.map {
      case (Left(()), i)        => org.apache.spark.sql.types.StructField(s"agg_$i", LongType)
      case (Right((n, 0)), i)   => org.apache.spark.sql.types.StructField(s"agg_$i", LongType)
      case (Right((n, _)), i)   => org.apache.spark.sql.types.StructField(s"agg_$i", full(n).dataType)
    }
    val values: Array[Any] = specs.map {
      case Left(())       => totalRows: java.lang.Long
      case Right((n, 0))  => nonNull(n): java.lang.Long
      case Right((n, 1))  => mins.getOrElse(n, null)
      case Right((n, 2))  => maxs.getOrElse(n, null)
    }.toArray
    Some((StructType(fields), values))
  }

  override def build(): Scan = aggResult match {
    case Some((aggSchema, values)) =>
      new GraftAggResultScan(label, aggSchema, values)
    case None =>
      new GraftSnapshotScan(label, files, relFiles, dvDir, required, pushed,
        zoneStats)
  }
}

/** The one-row result of a completely pushed footer aggregation: no data
  * pages are ever opened — the values were folded from footer metadata at
  * planning time and ride the single input partition. */
class GraftAggResultScan(label: String, aggSchema: StructType,
                         values: Array[Any])
  extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftAggResultScan($label, footer-only, ${aggSchema.length} aggs)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggResultPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggResultReaderFactory
}

case class GraftAggResultPartition(values: Array[Any]) extends InputPartition

class GraftAggResultReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
    : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val vs = p.asInstanceOf[GraftAggResultPartition].values
    new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vs)
      override def close(): Unit = ()
    }
  }
}

class GraftSnapshotScan(label: String, files0: Array[String],
                        relFiles0: Array[String], dvDir: Option[String],
                        required: StructType,
                        filters: Array[org.apache.spark.sql.sources.Filter],
                        zoneStats: Map[String, Map[String, (Double, Double)]] = Map.empty)
  extends Scan with Batch with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  // runtime filtering narrows these BEFORE planInputPartitions (the
  // BatchScanExec contract: filter() on the driver, then re-plan)
  private var files: Array[String] = files0
  private var relFiles: Array[String] = relFiles0
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** RUNTIME file pruning (the DSv2 sibling of dynamic partition
    * pruning): a join against a filtered dimension sends the build side's
    * key VALUES here before the scan executes, and any file whose zone
    * stats exclude every value is dropped WITHOUT a task — at 100 TB a
    * selective dim join reads only the files that can match. Only
    * zone-stat'd columns are offered ([[SnapshotTable]] `zonecols` meta —
    * `CALL optimize` layouts write them); files without stats always
    * survive (advisory pruning).
    * Stored bounds are doubles written by the commit's min/max cast —
    * widened 1 ulp on each side so nearest-rounding of extreme int64
    * values can never prune a file that truly contains a probe value. */
  override def filterAttributes()
    : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    zoneStats.keys.toArray.sorted
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
    : Unit = predicates.foreach { p =>
    def litD(e: org.apache.spark.sql.connector.expressions.Expression): Option[Double] =
      e match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value match {
            case x: java.lang.Long    => Some(x.toDouble)
            case x: java.lang.Integer => Some(x.toDouble)
            case x: java.lang.Double  => Some(x)
            case x: java.lang.Short   => Some(x.toDouble)
            case _ => None
          }
        case _ => None
      }
    def refName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
        case _ => None
      }
    val parsed: Option[(String, Seq[Double])] = p.name() match {
      case "IN" if p.children().length >= 2 =>
        for {
          n <- refName(p.children()(0))
          vs <- { val o = p.children().drop(1).map(litD)
                  if (o.forall(_.isDefined)) Some(o.map(_.get).toSeq) else None }
        } yield (n, vs)
      case "=" if p.children().length == 2 =>
        for (n <- refName(p.children()(0)); v <- litD(p.children()(1)))
          yield (n, Seq(v))
      case _ => None
    }
    parsed.foreach { case (colName, values) =>
      zoneStats.get(colName).foreach { st =>
        val keepIdx = relFiles.indices.filter { i =>
          st.get(relFiles(i)) match {
            case Some((mn, mx)) =>
              val lo = math.nextDown(mn); val hi = math.nextUp(mx)
              values.exists(v => v >= lo && v <= hi)
            case None => true // no stats recorded -> always a candidate
          }
        }
        GraftSnapshotScan.filesPrunedRuntime.addAndGet(
          (relFiles.length - keepIdx.size).toLong)
        files = keepIdx.map(files(_)).toArray
        relFiles = keepIdx.map(relFiles(_)).toArray
      }
    }
  }

  /** Planner statistics from the manifest's own file list — WITHOUT this,
    * a DSv2 scan defaults to `defaultSizeInBytes` (effectively infinite)
    * and a snapshot dimension table would NEVER be chosen as a broadcast
    * side, forcing every snapshot join through a shuffle. sizeInBytes =
    * the summed on-disk bytes of exactly the version's files (driver
    * stat calls at manifest scale, no data I/O) — the same
    * compressed-size heuristic Spark's own file sources feed the
    * broadcast threshold. Row counts are left empty: they would need
    * footer reads per PLANNING round, and size alone drives the join
    * strategy. */
  override def estimateStatistics()
    : org.apache.spark.sql.connector.read.Statistics = {
    val bytes = files.iterator.map { f =>
      val p = Paths.get(f)
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }
  override def description(): String =
    s"GraftSnapshotScan($label, files=${files.length}, " +
      s"rowGroupFilters=[${filters.mkString(", ")}]" +
      dvDir.map(d => s", dv=$d").getOrElse("") + ")"
  // one partition per data file: snapshot commits already size files for
  // the cluster (compaction controls granularity), and per-file tasks keep
  // locality simple. With an outstanding deletion vector, DV work is
  // pruned to exactly the files the vector touches: one bounded driver
  // job collects the DISTINCT DV'd file names (manifest scale, never row
  // scale — materializeDeletes' own idiom), and only their partitions
  // carry the sidecar paths; every other file reads vector-free.
  override def planInputPartitions(): Array[InputPartition] = {
    val (dvTouched, dvParts): (Set[String], Array[String]) = dvDir match {
      case None => (Set.empty[String], Array.empty[String])
      case Some(d) =>
        val spark = org.apache.spark.sql.SparkSession.active
        val touched = spark.read.parquet(d).select("file").distinct()
          .collect().map(_.getString(0)).toSet
        val s = Files.list(Paths.get(d))
        val parts =
          try s.iterator().asScala.map(_.toString)
            .filter(_.endsWith(".parquet")).toArray
          finally s.close()
        (touched, parts)
    }
    files.indices.map { i =>
      val dv = if (dvTouched(relFiles(i))) dvParts else Array.empty[String]
      GraftSnapshotFilePartition(files(i), required.json, filters,
        relFiles(i), dv): InputPartition
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftSnapshotReaderFactory
}

object GraftSnapshotScan {
  /** observability for specs/ops: files dropped by runtime filtering. */
  val filesPrunedRuntime = new java.util.concurrent.atomic.AtomicLong()
}

case class GraftSnapshotFilePartition(
    file: String, schemaJson: String,
    filters: Array[org.apache.spark.sql.sources.Filter],
    relFile: String = "", dvFiles: Array[String] = Array.empty)
  extends InputPartition

class GraftSnapshotReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
    : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val p = partition.asInstanceOf[GraftSnapshotFilePartition]
    val schema = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
    new GraftSnapshotFileReader(p.file, schema, p.filters, p.relFile, p.dvFiles)
  }
}

/** Per-file reader with SCHEMA EVOLUTION: projects only the requested
  * columns the file actually CONTAINS (files written before a column was
  * added null-fill it — `readVersion`'s resolve-by-name rule), and when a
  * file contains NONE of them, emits its surviving row counts as all-null
  * rows straight from footer metadata without touching a page. Row-group
  * skipping on pushed filters ([[RowGroups.blockSurvives]]; a filter on
  * a column the file lacks has no stats → the group survives — always
  * safe).
  *
  * MERGE-ON-READ deletes: when `dvFiles` is nonempty (the scan attaches
  * the DV sidecar only to files the vector actually touches), the reader
  * first loads ITS OWN deleted positions — the sidecar rows whose `file`
  * equals this partition's manifest-relative name — then tracks the
  * parquet row index while scanning (skipped row groups still advance
  * it, matching `_metadata.row_index` semantics) and drops deleted rows.
  * Per-task DV cost is O(vector size) only for DV'd files; the MOR
  * contract (materialize when the vector grows) bounds it. */
class GraftSnapshotFileReader(
    file: String, schema: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter],
    relFile: String = "", dvFiles: Array[String] = Array.empty)
  extends PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}

  // deleted row positions of THIS file (parquet row index), loaded from
  // the DV sidecar before any data page is opened; null = no vector
  private val deleted: java.util.HashSet[java.lang.Long] =
    if (dvFiles.isEmpty) null
    else {
      val s = new java.util.HashSet[java.lang.Long]()
      dvFiles.foreach { dvf =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(dvf),
            new org.apache.hadoop.conf.Configuration()))
        try {
          val sch = r.getFooter.getFileMetaData.getSchema
          val cio = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(sch)
          r.getFooter.getBlocks.asScala.foreach { block =>
            if (!GraftSnapshotFileReader.dvGroupMayContain(block, relFile))
              r.skipNextRowGroup() // file-sorted sidecar ⇒ tight [min,max]
            else {
              val store = r.readNextRowGroup()
              val rr = cio.getRecordReader(store,
                new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(sch))
              var i = 0L
              while (i < store.getRowCount) {
                val g = rr.read()
                if (g.getString("file", 0) == relFile) s.add(g.getLong("pos", 0))
                i += 1
              }
            }
          }
        } finally r.close()
      }
      s
    }
  // parquet row index of the NEXT row this reader will surface — advanced
  // for every row in the file, including rows of filter-skipped groups
  private var rowPos: Long = 0L

  private val fileReader = org.apache.parquet.hadoop.ParquetFileReader.open(
    org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file),
      new org.apache.hadoop.conf.Configuration()))
  private val fileSchema = fileReader.getFooter.getFileMetaData.getSchema
  private val presentNames =
    schema.fieldNames.filter(fileSchema.containsField).toSeq
  private val present = presentNames.toSet
  private val projection: Option[org.apache.parquet.schema.MessageType] =
    if (presentNames.isEmpty) None
    else Some(RowGroups.projectionOf(fileSchema, presentNames))
  projection.foreach(fileReader.setRequestedSchema)
  private val columnIO = projection.map(p =>
    new org.apache.parquet.io.ColumnIOFactory().getColumnIO(p))
  private var blocks = fileReader.getRowGroups.asScala.iterator
  private var recordReader: org.apache.parquet.io.RecordReader[Group] = _
  private var remainingInGroup: Long = 0L
  private var current: Group = _
  private var closed = false

  private def nextRowGroup(): Boolean = {
    while (blocks.hasNext) {
      val block = blocks.next()
      if (RowGroups.blockSurvives(block, filters.toSeq)) {
        projection match {
          case Some(p) =>
            val store = fileReader.readNextRowGroup()
            recordReader = columnIO.get.getRecordReader(store,
              new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(p))
            remainingInGroup = store.getRowCount
          case None =>
            // no requested column exists in this file: all-null rows,
            // counted from metadata — no page I/O at all
            fileReader.skipNextRowGroup()
            recordReader = null
            remainingInGroup = block.getRowCount
        }
        RowGroups.read.incrementAndGet()
        if (remainingInGroup > 0) return true
      } else {
        fileReader.skipNextRowGroup()
        RowGroups.skipped.incrementAndGet()
        // a skipped group's rows still occupy row-index space — the DV
        // records parquet row indexes, so the cursor must advance past them
        rowPos += block.getRowCount
      }
    }
    false
  }

  override def next(): Boolean = {
    while (true) {
      while (remainingInGroup <= 0) if (!nextRowGroup()) return false
      current = if (recordReader == null) null else recordReader.read()
      val pos = rowPos
      rowPos += 1
      remainingInGroup -= 1
      if (deleted == null || !deleted.contains(pos)) return true
      // deleted row: fall through and read the next one
    }
    false
  }

  override def get(): org.apache.spark.sql.catalyst.InternalRow = {
    val row = new GenericInternalRow(schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema(i)
      if (f.name == "_file")
        // metadata column: the file path serving this row (runtime group
        // filtering and SELECT _file ride this)
        row.update(i, org.apache.spark.unsafe.types.UTF8String.fromString(file))
      else if (current == null || !present(f.name) ||
        current.getFieldRepetitionCount(f.name) == 0) row.setNullAt(i)
      else f.dataType match {
        case LongType    => row.setLong(i, current.getLong(f.name, 0))
        case IntegerType => row.setInt(i, current.getInteger(f.name, 0))
        case DoubleType  => row.setDouble(i, current.getDouble(f.name, 0))
        case StringType  => row.update(i,
          org.apache.spark.unsafe.types.UTF8String.fromString(current.getString(f.name, 0)))
        case other       => sys.error(s"unsupported type $other")
      }
      i += 1
    }
    row
  }

  override def close(): Unit =
    if (!closed) { closed = true; fileReader.close() }
}

object GraftSnapshotFileReader {
  /** May this DV-sidecar row group contain entries for `rel`? Skips on the
    * `file` column's footer [min,max]. Parquet string stats are
    * UNSIGNED-byte-ordered while Java String compares UTF-16 code units —
    * the two orders coincide only on pure-ASCII values, so the skip
    * applies ONLY when min/max/rel are all ASCII (manifest-relative data
    * paths are `data-<uuid>/part-…`, always ASCII; the guard keeps a
    * future exotic name safe). Missing/odd stats ⇒ must-read. */
  private[sources] def dvGroupMayContain(
      block: org.apache.parquet.hadoop.metadata.BlockMetaData,
      rel: String): Boolean = {
    val cc = block.getColumns.asScala
      .find(_.getPath.toDotString == "file").orNull
    if (cc == null) return true
    val st = cc.getStatistics
    if (st == null || !st.hasNonNullValue || st.getNumNulls > 0) return true
    val (minB, maxB) = (st.getMinBytes, st.getMaxBytes)
    def ascii(b: Array[Byte]): Boolean = b.forall(x => x >= 0)
    if (minB == null || maxB == null || !ascii(minB) || !ascii(maxB) ||
        !rel.forall(_ < 128)) return true
    val min = new String(minB, java.nio.charset.StandardCharsets.UTF_8)
    val max = new String(maxB, java.nio.charset.StandardCharsets.UTF_8)
    min <= rel && rel <= max
  }
}

/** The staged table behind atomic CTAS / RTAS (see
  * [[GraftSnapshotCatalog.stageCreate]]). CTAS builds a complete snapshot
  * table under `stagingRoot` and publishes it with ONE directory rename in
  * `commitStagedChanges`; RTAS (`moveTo == None`) commits straight into the
  * live table as one `commitReplace` version — both give all-or-nothing
  * visibility. The declared schema is validated up front against what the
  * SQL scan can serve (same rules as reads: bigint/int/double/string, no
  * `_file` data column) so a CTAS can never create a table the catalog
  * then refuses to load. */
class GraftStagedCtasTable(
    ident: Identifier,
    declaredSchema: StructType,
    stagingRoot: JPath,        // null for RTAS (nothing staged on disk)
    writeDir: JPath,           // staged table dir (CTAS) or the live dir (RTAS)
    moveTo: Option[JPath])     // Some(final dir) for CTAS
  extends StagedTable with SupportsWrite {

  locally {
    val bad = declaredSchema.fields.filterNot(f => f.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    })
    require(bad.isEmpty,
      s"CTAS schema for $ident has columns the SQL catalog reader cannot " +
        s"serve (${bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}); " +
        "supported: bigint/int/double/string — commit programmatically instead")
    require(!declaredSchema.fieldNames.contains("_file"),
      s"CTAS schema for $ident has a column named _file, which collides " +
        "with the catalog's metadata column — rename it")
  }

  override def name(): String = ident.toString
  override def schema(): StructType = declaredSchema
  override def capabilities(): JSet[TableCapability] =
    java.util.Set.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  // the RTAS exec calls truncate() on the builder (replace semantics);
  // every staged write IS a commitReplace, so truncate is the identity
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = this
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
            : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
              SnapshotTable.commitReplace(data, writeDir.toString); ()
            }
        }
    }

  override def commitStagedChanges(): Unit = moveTo.foreach { dest =>
    Option(dest.getParent).foreach(Files.createDirectories(_))
    try Files.move(writeDir, dest, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException =>
        cleanupStaging()
        sys.error(s"CTAS publish of $ident lost to a rival writer " +
          s"(destination $dest appeared first): ${e.getMessage}")
    }
    cleanupStaging()
  }

  override def abortStagedChanges(): Unit = cleanupStaging()

  private def cleanupStaging(): Unit =
    if (stagingRoot != null && Files.exists(stagingRoot))
      SnapshotTable.deleteRecursively(stagingRoot)
}

/** Read-only metadata tables (`t$history`, `t$files`) and the row builders
  * shared with `CALL history`. All manifest-scale: one row per retained
  * version / per data file of one version — bounded by vacuum and
  * compaction, never row-content-scale. */
private[sources] object GraftMetaTables {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types.{LongType, StringType, StructField}
  import org.apache.spark.unsafe.types.UTF8String

  val historySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("op", StringType),
    StructField("ts_millis", LongType),
    StructField("n_files", LongType, nullable = false)))

  /** newest first; `upTo` truncates to versions ≤ it (the VERSION AS OF view). */
  def historyRows(dir: String, upTo: Option[Long]): Array[InternalRow] =
    SnapshotTable.versions(dir).filter(v => upTo.forall(v <= _)).reverse.map { v =>
      val snap = SnapshotTable.snapshot(dir, v)
      new GenericInternalRow(Array[Any](
        v, UTF8String.fromString(snap.op),
        snap.meta.get("ts").map(_.toLong).orNull,
        snap.files.length.toLong)): InternalRow
    }.toArray

  val filesSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false)))

  def filesRows(dir: String, version: Option[Long]): Array[InternalRow] = {
    val v = version.orElse(SnapshotTable.latestVersion(dir)).get
    require(SnapshotTable.versions(dir).contains(v),
      s"$dir has no version $v (vacuumed or never committed)")
    SnapshotTable.snapshot(dir, v).files.map { f =>
      val p = Paths.get(dir, f)
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(f),
        if (Files.exists(p)) Files.size(p) else 0L)): InternalRow
    }.toArray
  }

  def table(dir: String, label: String, kind: String, version: Option[Long]): Table = {
    // mSchema, NOT schema: inside the anonymous Table a local named
    // `schema` is SHADOWED by the `schema()` override, whose body would
    // then recurse on itself forever (the documented LocalScan `rows`
    // trap, same mechanism)
    val (mSchema, rowsF): (StructType, () => Array[InternalRow]) = kind match {
      case "history" => (historySchema, () => historyRows(dir, version))
      case "files"   => (filesSchema, () => filesRows(dir, version))
      case other => sys.error(
        s"unknown metadata table '$$$other' — available: $$history, $$files")
    }
    new Table with SupportsRead {
      override def name(): String = label
      override def schema(): StructType = mSchema
      override def capabilities(): JSet[TableCapability] =
        java.util.Set.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder {
          override def build(): Scan =
            new org.apache.spark.sql.connector.read.LocalScan {
              // materialize at SCAN build (execution), not table load
              private val r = rowsF()
              override def rows(): Array[InternalRow] = r
              override def readSchema(): StructType = mSchema
              override def description(): String = s"GraftMetaScan($label)"
            }
        }
    }
  }
}
