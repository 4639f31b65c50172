package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GROUP-BASED COPY-ON-WRITE row-level SQL operations for
  * [[SnapshotTable]] — `MERGE INTO` and `UPDATE` (plus `DELETE` whose
  * condition cannot translate to source filters), wired through Spark's
  * DataSourceV2 `SupportsRowLevelOperations` surface, the way
  * `DELETE WHERE` already rides `SupportsDelete`:
  *
  *   - Spark's own `RewriteMergeIntoTable`/`RewriteUpdateTable` rules
  *     plan a [[org.apache.spark.sql.catalyst.plans.logical.ReplaceData]]
  *     over this operation's SCAN (the pinned snapshot's files) and
  *     WRITE (a fresh staged data dir);
  *   - the scan exposes the `_file` METADATA COLUMN and implements
  *     runtime group filtering ([[SupportsRuntimeV2Filtering]]): Spark
  *     first runs the MERGE/UPDATE condition as a semi-join to learn
  *     which files contain matches, then narrows the scan to exactly
  *     those files — so the rewrite is FILE-GRANULAR, the
  *     [[SnapshotTable.upsert]] copy-on-write shape (untouched files are
  *     carried by reference in the new manifest, never rewritten). If
  *     the runtime filter does not fire, the scan serves every file and
  *     the operation degrades to a correct full-table rewrite;
  *   - the write's `commit` publishes ONE snapshot commit that drops the
  *     files the scan actually served and adds the staged replacements —
  *     `expectedVersion` pins the snapshot the
  *     rewrite was derived from: a concurrent commit in between aborts
  *     with [[SnapshotTable.ConcurrentCommitException]] (optimistic
  *     conflict detection — never a blind lost-update).
  *
  * Scale posture: candidate discovery is a join that prunes to matched
  * files before any rewrite I/O; the rewrite itself writes only the
  * replaced groups. At 100 TB a MERGE touching 0.1% of files reads and
  * writes ~0.1% of the table plus one manifest. */
class GraftRowLevelOperation(
    dir: String, version: Long, cmd: RowLevelOperation.Command,
    tableSchema: StructType, dvOutstanding: Boolean = false)
  extends RowLevelOperation {

  /** The file set (manifest-relative names) the operation's scan ends up
    * serving: the pinned snapshot's full list until runtime group
    * filtering narrows it. The write's commit drops EXACTLY these files —
    * whatever the scan served is what the ReplaceData output replaces. */
  @volatile private[sources] var scannedFiles: Seq[String] =
    SnapshotTable.snapshot(dir, version).files

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"GraftRowLevelOperation($cmd, $dir@v$version)"

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  // NO SupportsPushDownFilters here, deliberately: Spark pushes the
  // MERGE/UPDATE/DELETE command condition into a row-level scan with the
  // group-based contract that the source may prune only GROUPS it will
  // not rewrite. Our replacement unit (group) is the FILE — the reader's
  // usual ROW-GROUP skipping on footer stats operates BELOW that
  // granularity, so a pushed condition would drop no-match row groups
  // inside files the commit then deletes: SILENT DATA LOSS (an UPDATE
  // WHERE k=5 on a file whose first row group holds k=1..4 would erase
  // those rows). Group pruning happens only via runtime group filtering
  // on `_file`, which narrows scannedFiles — exactly the set commit
  // drops — never inside a file.
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan =
        new GraftRowLevelScan(GraftRowLevelOperation.this, dir, required)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // only reached when the REWRITE path actually runs (a translatable
    // DELETE takes SupportsDelete → deleteWhereMor instead): its merge
    // commit drops the dv pointer, which would resurrect deleted rows on
    // files this rewrite never touched
    require(!dvOutstanding,
      s"$cmd on $dir@v$version with an outstanding merge-on-read deletion " +
        "vector — run SnapshotTable.materializeDeletes first")
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceDataWrite(dir, version, GraftRowLevelOperation.this, info.schema())
    }
  }
}

/** The row-level operation's scan: the pinned snapshot served one
  * partition per file (the catalog scan's reader, `_file`-aware), plus
  * RUNTIME GROUP FILTERING — Spark pushes the distinct `_file` values
  * that contain MERGE/UPDATE matches, and the scan narrows to those
  * files, recording the final set on the operation for the write's
  * commit. Unrecognized predicates narrow nothing (correct, just a
  * larger rewrite). */
class GraftRowLevelScan(
    op: GraftRowLevelOperation, dir: String, required: StructType)
  extends Scan with Batch with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftRowLevelScan($dir, files=${op.scannedFiles.length})"

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def filter(predicates: Array[Predicate]): Unit = {
    val allowedSets = predicates.flatMap(GraftRowLevelScan.inValues)
    if (allowedSets.nonEmpty) {
      val allowed = allowedSets.reduce(_ intersect _)
      op.scannedFiles = op.scannedFiles
        .filter(f => allowed.contains(Paths.get(dir, f).toString))
    }
  }

  // evaluated at execution time — AFTER any runtime filter has narrowed
  // the operation's file set. Partitions carry NO data filters: every
  // surviving file must be read IN FULL (its unmatched rows are the
  // carry-over half of the rewrite).
  override def planInputPartitions(): Array[InputPartition] =
    op.scannedFiles.map(f => GraftSnapshotFilePartition(
      Paths.get(dir, f).toString, required.json, Array.empty): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftSnapshotReaderFactory
}

object GraftRowLevelScan {
  /** Extract the allowed `_file` string set from an `IN` / `=` predicate
    * on the `_file` metadata column; None = not recognized (no narrowing,
    * which is always safe). */
  private def litString(e: org.apache.spark.sql.connector.expressions.Expression)
    : Option[String] = e match {
    case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
      Option(l.value).map(_.toString)
    case _ => None
  }
  private[sources] def inValues(p: Predicate): Option[Set[String]] = {
    val kids = p.children()
    val onFile = kids.headOption.exists {
      case r: NamedReference => r.fieldNames().sameElements(Array("_file"))
      case _ => false
    }
    if (!onFile) None
    else p.name() match {
      case "IN" | "=" =>
        val vals = kids.drop(1).map(litString)
        if (vals.forall(_.isDefined)) Some(vals.flatten.toSet) else None
      case _ => None
    }
  }
}

/** The ReplaceData write: executors stage replacement rows as parquet
  * under a fresh `data-<uuid>/` dir inside the table (the snapshot
  * staging convention — invisible until a manifest references it);
  * driver-side `commit` publishes one snapshot commit dropping the
  * scanned files, with optimistic conflict detection against the pinned
  * version. */
class GraftReplaceDataWrite(
    dir: String, version: Long, op: GraftRowLevelOperation,
    writeSchema: StructType) extends Write {
  private val dataSub = s"data-${java.util.UUID.randomUUID().toString}"

  override def description(): String = s"GraftReplaceDataWrite($dir@v$version)"

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      Files.createDirectories(Paths.get(dir, dataSub))
      new GraftParquetWriterFactory(Paths.get(dir, dataSub).toString, writeSchema.json)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val staging = Paths.get(dir, dataSub)
      Files.createDirectories(staging)
      // adopt ONLY files committed by successful task attempts: a crashed
      // or speculative attempt may have left a partial file the manifest
      // must never reference
      val committed = messages.collect {
        case m: GraftStagedFileCommit => m.name
      }.toSet
      val st = Files.list(staging)
      try st.iterator().asScala.toList
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          !committed(p.getFileName.toString))
        .foreach(Files.delete)
      finally st.close()
      // dummy zero-row frame carrying the manifest's own recorded schema:
      // commit() uses it only for the schema-merge step (identity here)
      val spark = org.apache.spark.sql.SparkSession.active
      val snap = SnapshotTable.snapshot(dir, version)
      val schema = snap.meta.get("schema")
        .map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .getOrElse(writeSchema)
      val dummy = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      SnapshotTable.commit(dummy, dir, replace = false,
        dropFiles = op.scannedFiles.toSet,
        expectedVersion = Some(version),
        stagedDataSub = Some(dataSub))
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      SnapshotTable.deleteRecursively(Paths.get(dir, dataSub))
      ()
    }
  }
}

case class GraftStagedFileCommit(name: String) extends WriterCommitMessage

/** Executor-side parquet staging for the ReplaceData write: one optional-
  * field Group-API file per nonempty partition, types restricted to the
  * catalog reader's served set (bigint/int/double/string — anything else
  * was refused at table-analysis time). A writer that never saw a row
  * creates no file at all. */
class GraftParquetWriterFactory(stagingDir: String, schemaJson: String)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftParquetDataWriter(stagingDir, schemaJson, partitionId, taskId)
}

class GraftParquetDataWriter(
    stagingDir: String, schemaJson: String, partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types => PTypes}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  private val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  private val name = f"part-$partitionId%05d-$taskId.parquet"
  private val msgType: MessageType = new MessageType("spark_schema",
    schema.fields.toSeq.map { f =>
      (f.dataType match {
        case LongType    => PTypes.optional(INT64)
        case IntegerType => PTypes.optional(INT32)
        case DoubleType  => PTypes.optional(DOUBLE)
        case StringType  => PTypes.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case other => sys.error(s"unsupported type for SQL row-level write: $other")
      }).named(f.name): org.apache.parquet.schema.Type
    }.asJava)
  private val groupFactory =
    new org.apache.parquet.example.data.simple.SimpleGroupFactory(msgType)
  private var writer: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _

  private def ensureWriter(): Unit = if (writer == null) {
    writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$stagingDir/$name"))
      .withType(msgType)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
  }

  override def write(row: InternalRow): Unit = {
    ensureWriter()
    val g = groupFactory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) schema(i).dataType match {
        case LongType    => g.add(schema(i).name, row.getLong(i))
        case IntegerType => g.add(schema(i).name, row.getInt(i))
        case DoubleType  => g.add(schema(i).name, row.getDouble(i))
        case StringType  => g.add(schema(i).name, row.getUTF8String(i).toString)
        case other       => sys.error(s"unsupported type $other")
      }
      i += 1
    }
    writer.write(g)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    GraftStagedFileCommit(name)
  }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    Files.deleteIfExists(Paths.get(stagingDir, name))
    ()
  }

  override def close(): Unit = ()
}
