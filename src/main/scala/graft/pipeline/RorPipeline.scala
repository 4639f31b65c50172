package graft.pipeline

import java.io.IOException
import java.nio.file.Paths
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.PinnedLoop
import graft.ops.{Enrich, ParentEdges, QualityGates, UltimateParent}
import graft.schema.{BqSchema, RorSchema}
import graft.sources.{DumpSource, Jsonl, LocalDumpSource}

/** The reference DAG (`ror_updater`, `/root/reference/ror_dag.py:228-238`)
  * as sequential Spark driver code — each stage is a declarative plan;
  * Catalyst/Tungsten replace both the "pod script" role (transforms) and
  * the "BigQuery" role (SQL, schema enforcement); the table copies stay
  * file copies, as the reference's BigQuery copy jobs are.
  *
  * Stage map (SURVEY.md §2): clearTmp (S9) → fetch+select (S1–S3) →
  * array→JSONL (S4/K1-style staging) → schema'd load (S6–S8) → edge
  * extraction (T2, checkpointed once) → duplicate gate (G3, whose aggregate
  * also counts the edges) → rollup fixpoint (G1/G2, sized by that count) →
  * enrichment join (J1, its every-id-resolves check inside the staging
  * write) → staging write → quality gates (A1/A2, blocking; their staging
  * side is one aggregate, which also gives the report's record count) →
  * promote (K2: staging's files copied to production) → dated snapshot (K3:
  * the same files copied to the dated backup) → metadata sidecar (K4) →
  * run report (K5/K6 — capped/cycle ids surface here, the reference's
  * Slack-alert channel). The JSONL is parsed twice after S4: once for the
  * edges, once for the staging write; the table is encoded once.
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

    // T2: the (id, parent) edges, parsed once for the guard and the rollup;
    // their checkpoint and the rollup's final state are released however
    // the run ends, and are gone (not just scheduled for removal) when it
    // returns.
    var edges, rollup: DataFrame = null
    try {
      edges = ParentEdges.edges(records).localCheckpoint(false)

      // G3: duplicate-id abort BEFORE any output (get_ultimate_parent.py:80).
      val edgeRows = ParentEdges.requireUniqueIds(edges, "id")

      // G1/G2: ultimate-parent fixpoint.
      rollup = UltimateParent.resolveDistributed(edges, cfg.maxDepth, Some(edgeRows))

      // K6 warning channel: depth-capped / cyclic orgs fell back to self.
      // Bounded driver materialization: count distributed, sample via
      // sort+limit (both computed before collect — mirrors the
      // ParentEdges.requireUniqueIds sample cap).
      val capped = rollup.filter(col("capped")).select("id")
      val cappedCount = capped.count()
      val cappedIds = capped.orderBy("id").limit(cappedIdSample)
        .collect().map(_.getString(0)).toSeq

      // J1: broadcast enrichment; ultimate_parent is REQUIRED — every id must
      // resolve (the reference's dict lookup cannot miss), checked by the
      // staging write itself.
      val enriched = Enrich.withUltimateParent(
        records, rollup.select("id", "ultimate_parent"), requireResolved = true)

      // Staging write (WRITE_TRUNCATE semantics).
      enriched.write.mode(SaveMode.Overwrite).parquet(staging)
      val stagingDf = spark.read.schema(enriched.schema).parquet(staging)

      // A1 + A2 gates — both must pass before promotion (BigQueryCheckOperator
      // semantics: hard fail blocks everything downstream).
      val counts = QualityGates.stagingCounts(stagingDf, "id")
      val prodRows =
        if (cfg.snapshotMode)
          graft.sources.SnapshotTable.latestVersion(prod)
            .map(_ => graft.sources.SnapshotTable.read(spark, prod).count())
        else if (fs.exists(new HPath(prod)))
          Some(spark.read.schema(enriched.schema).parquet(prod).count())
        else None
      val gates = QualityGates.uniqueIds(counts, "id") +:
        prodRows.map(QualityGates.monotonicCount(counts.rows, _)).toSeq
      QualityGates.requireAll(gates)

      // K4: the column-description sidecar travels with the table.
      def writeSidecar(table: HPath): Unit = {
        val out = fs.create(new HPath(table, "_column_descriptions.json"), true)
        try out.write(BqSchema.commentSidecar(RorSchema.enrichedSchema).getBytes("UTF-8"))
        finally out.close()
      }
      val backupRef = if (cfg.snapshotMode) {
        // K2 + K3 in one step: the replace commit is atomic AND versioned —
        // any prior run stays time-travelable, which IS the dated backup
        val v = graft.sources.SnapshotTable.commitReplace(stagingDf, prod)
        writeSidecar(new HPath(prod))
        s"$prod@v$v"
      } else {
        // K2: staging → production; K3: the same data files → the dated
        // backup (idempotent per day). Production holds staging's bytes, so
        // copying staging is copying production, minus the sidecar.
        replaceByCopy(fs, new HPath(staging), new HPath(prod))(writeSidecar)
        replaceByCopy(fs, new HPath(staging), new HPath(backup))()
        backup
      }

      // K5: success report (the terminal alert, minus the Slack transport).
      RunReport(counts.rows, cappedIds, cappedCount, gates, staging, prod, backupRef)
    } finally {
      Seq(edges, rollup).filter(_ != null).foreach(PinnedLoop.release(_, blocking = true))
    }
  }

  /** K2/K3 as the reference's copy jobs: replace `dst` with a byte copy of
    * `src`'s files (same names, no decode or encode). The copy, plus what
    * `finish` adds to it, lands in a hidden sibling directory that is then
    * renamed into place: a copy that fails part-way leaves `dst` as it was,
    * and a reader sees the old table or the new one, never a partial one
    * (or, between the two renames, none). */
  private[pipeline] def replaceByCopy(fs: FileSystem, src: HPath, dst: HPath)(
      finish: HPath => Unit = _ => ()): Unit = {
    val fresh = new HPath(dst.getParent, s"_${dst.getName}.copying")
    val old   = new HPath(dst.getParent, s"_${dst.getName}.replaced")
    fs.delete(fresh, true)
    try {
      if (!FileUtil.copy(fs, src, fs, fresh, false, fs.getConf))
        throw new IOException(s"copy $src -> $fresh failed")
      finish(fresh)
    } catch {
      case e: Throwable => fs.delete(fresh, true); throw e
    }
    fs.delete(old, true)
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new IOException(s"could not move $dst aside")
    if (!fs.rename(fresh, dst)) {
      fs.rename(old, dst)
      throw new IOException(s"could not move $fresh to $dst")
    }
    fs.delete(old, true)
  }
}
