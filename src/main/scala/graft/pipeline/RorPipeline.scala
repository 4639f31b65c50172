package graft.pipeline

import java.nio.file.Paths
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Enrich, ParentEdges, QualityGates, UltimateParent}
import graft.schema.{BqSchema, RorSchema}
import graft.sources.{DumpSource, Jsonl, LocalDumpSource}

/** The reference DAG (`ror_updater`, `/root/reference/ror_dag.py:228-238`)
  * as sequential Spark driver code — each stage is a declarative plan;
  * Catalyst/Tungsten replace both the "pod script" role (transforms) and
  * the "BigQuery" role (SQL, schema enforcement, table copies).
  *
  * Stage map (SURVEY.md §2): clearTmp (S9) → fetch+select (S1–S3) →
  * array→JSONL (S4/K1-style staging) → schema'd load (S6–S8) → duplicate
  * gate (G3) → edge extraction (T2) → rollup fixpoint (G1/G2) → enrichment
  * join (J1) → staging write → quality gates (A1/A2, blocking) → promote
  * (K2) → dated snapshot (K3) → metadata sidecar (K4) → run report (K5/K6 —
  * capped/cycle ids surface here, the reference's Slack-alert channel).
  */
object RorPipeline {

  final case class Config(
      dumpPath: String,
      warehouseDir: String,
      maxDepth: Int = 200,
      runDate: LocalDate = LocalDate.now(),
      // promote through sources/SnapshotTable instead of a plain overwrite:
      // K2 becomes an atomic versioned commit (readers mid-query keep their
      // snapshot) and K3's dated backup is subsumed by time travel — the
      // RunReport's backupPath records the committed version instead
      snapshotMode: Boolean = false)

  /** `cappedIds` is a BOUNDED sample (first [[cappedIdSample]] ids in sort
    * order) — the warning channel needs examples, not the full set; a
    * pathological graph (mass cycle) could otherwise materialize millions
    * of ids on the driver. `cappedCount` carries the full count. */
  final case class RunReport(
      records: Long,
      cappedIds: Seq[String],
      cappedCount: Long,
      gates: Seq[QualityGates.GateResult],
      stagingPath: String,
      productionPath: String,
      backupPath: String)

  /** Max capped/cyclic ids surfaced verbatim in the K6 warning channel. */
  val cappedIdSample = 100

  def run(spark: SparkSession, cfg: Config, source: DumpSource = null): RunReport = {
    val tmp     = s"${cfg.warehouseDir}/tmp"
    val staging = s"${cfg.warehouseDir}/staging/ror"
    val prod    = s"${cfg.warehouseDir}/prod/ror"
    val dateStr = cfg.runDate.format(DateTimeFormatter.ofPattern("yyyyMMdd"))
    val backup  = s"${cfg.warehouseDir}/backups/ror_$dateStr"
    val fs      = FileSystem.get(spark.sparkContext.hadoopConfiguration)

    // S9: truncate tmp at run START (failed-run artifacts stay inspectable
    // until the next run, mirroring ror_dag.py:51-55).
    fs.delete(new HPath(tmp), true)

    // S1-S3: materialize the dump; S4: array → JSONL staging.
    val src  = if (source != null) source else new LocalDumpSource(cfg.dumpPath)
    val dump = src.fetchLatest(Paths.get(tmp, "expand"))
    val jsonlDir = s"$tmp/ror_jsonl"
    Jsonl.fromJsonArray(spark, RorSchema.schema, dump.toString, jsonlDir)

    // S6-S8: schema'd load (explicit schema, no inference).
    val records = Jsonl.read(spark, RorSchema.schema, jsonlDir)

    // G3: duplicate-id abort BEFORE any output (get_ultimate_parent.py:80).
    ParentEdges.requireUniqueIds(records, "id")

    // T2 + G1/G2: edges → ultimate-parent fixpoint.
    val edges  = ParentEdges.edges(records)
    val rollup = UltimateParent.resolveDistributed(edges, cfg.maxDepth)

    // K6 warning channel: depth-capped / cyclic orgs fell back to self.
    // Bounded driver materialization: count distributed, sample via
    // sort+limit (both computed before collect — mirrors the
    // ParentEdges.requireUniqueIds sample cap).
    val capped = rollup.filter(col("capped")).select("id")
    val cappedCount = capped.count()
    val cappedIds = capped.orderBy("id").limit(cappedIdSample)
      .collect().map(_.getString(0)).toSeq

    // J1: broadcast enrichment; ultimate_parent is REQUIRED — every id must
    // resolve (the reference's dict lookup cannot miss).
    val enriched = Enrich.withUltimateParent(
      records, rollup.select("id", "ultimate_parent"), requireResolved = true)

    // Staging write (WRITE_TRUNCATE semantics).
    enriched.write.mode(SaveMode.Overwrite).parquet(staging)
    val stagingDf = spark.read.parquet(staging)

    // A1 + A2 gates — both must pass before promotion (BigQueryCheckOperator
    // semantics: hard fail blocks everything downstream).
    val prodExists =
      if (cfg.snapshotMode) graft.sources.SnapshotTable.latestVersion(prod).isDefined
      else fs.exists(new HPath(prod))
    def readProd() =
      if (cfg.snapshotMode) graft.sources.SnapshotTable.read(spark, prod)
      else spark.read.parquet(prod)
    val gates = Seq(QualityGates.uniqueIds(stagingDf, "id")) ++
      (if (prodExists) Seq(QualityGates.monotonicCount(stagingDf, readProd())) else Nil)
    QualityGates.requireAll(gates)

    val backupRef = if (cfg.snapshotMode) {
      // K2 + K3 in one step: the replace commit is atomic AND versioned —
      // any prior run stays time-travelable, which IS the dated backup
      val v = graft.sources.SnapshotTable.commitReplace(stagingDf, prod)
      s"$prod@v$v"
    } else {
      // K2: staging → production (atomic-replace-style overwrite).
      stagingDf.write.mode(SaveMode.Overwrite).parquet(prod)
      // K3: production → dated backup snapshot (idempotent per day).
      spark.read.parquet(prod).write.mode(SaveMode.Overwrite).parquet(backup)
      backup
    }

    // K4: column-description sidecar travels with the table.
    val sidecar = BqSchema.commentSidecar(RorSchema.enrichedSchema)
    val out = fs.create(new HPath(s"$prod/_column_descriptions.json"), true)
    out.write(sidecar.getBytes("UTF-8")); out.close()

    // K5: success report (the terminal alert, minus the Slack transport).
    RunReport(stagingDf.count(), cappedIds, cappedCount, gates, staging, prod, backupRef)
  }
}
