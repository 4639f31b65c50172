package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash

/** Persisted HAMMING FINGERPRINT INDEX — the multimodal sibling of
  * [[LshIndex]]: a corpus of 56-bit perceptual fingerprints (image dHash,
  * audio peak constellation, video temporal hash, text SimHash — anything
  * [[graft.operators.SimHashDedup.chunkBlockedPairs]] pairs) written once
  * as pigeonhole CHUNK tables, so repeated near-dup probes pay I/O
  * proportional to the batch + candidates, never the corpus:
  *
  *   - the fingerprint splits into 4 chunks of bits/4; a pair within
  *     Hamming ≤ 3 shares at least one chunk value EXACTLY (pigeonhole),
  *     so the chunk tables are a LOSSLESS candidate generator;
  *   - chunk rows land partitioned by `pk = md5(ci:cv) mod nParts`; a
  *     probe computes its own batch's chunk rows map-side, collects the
  *     ≤ nParts DISTINCT partition values, and reads only those
  *     directories (the [[graft.operators.KMeansIVF.indexTopK]] static
  *     partition-filter pattern);
  *   - candidates verify by exact popcount on the fingerprints carried IN
  *     the chunk rows — no second corpus read at all.
  *
  * The geometry (bits, nParts) rides `meta.json` and probes must match it
  * (the BloomFileIndex lesson: a mismatched probe is silent false
  * negatives). The directory protocol — rebuild scope, `append.lock`,
  * `_ready` gate — is [[IndexDir]]'s; incremental ingest is [[append]]
  * (in place, id-gated) or [[startDedupStream]].
  */
object HammingIndex {

  /** Build (or rebuild) the index from `(idCol, fpCol)` fingerprints.
    * NULL fingerprints (malformed media) are skipped — they can never
    * pair anyway. Runs inside the [[IndexDir.rebuild]] scope (lock,
    * open-txn refusal, pending reset, `_ready` revoked first and written
    * last; `meta.json` is the sidecar). */
  def write(fps: DataFrame, idCol: String, fpCol: String, dir: String,
            bits: Int, nParts: Int = 64): Unit = {
    require(bits % 4 == 0 && bits <= 60, s"bits=$bits must be a multiple of 4, <= 60")
    IndexDir.rebuild(dir) {
      // cluster by the partition column before the write (guide-§6
      // rebalance): one file per pk dir regardless of upstream
      // parallelism — without it every upstream task writes to every dir
      chunkRows(fps, idCol, fpCol, bits, nParts)
        .repartition(col("pk"))
        .write.mode("overwrite").partitionBy("pk").parquet(s"$dir/chunks")
      // id-bucketed membership table: the SOUND collision gate for append
      // (pruning the chunk tables by the batch's pk values would miss a
      // same-id-different-fingerprint copy, whose chunks live elsewhere)
      fps.filter(col(fpCol).isNotNull)
        .select(col(idCol).cast("long").as("id"))
        .withColumn("hb", pmod(TextHash.md5Long(col("id").cast("string")),
          lit(nParts.toLong)))
        .repartition(col("hb"))
        .write.mode("overwrite").partitionBy("hb").parquet(s"$dir/ids")
      ((), Seq("meta.json" -> s"""{"bits":$bits,"nParts":$nParts}"""))
    }
  }

  /** [[IndexDir.markReady]]'s one-time migration for the Hamming index. */
  def markReady(dir: String): Unit = IndexDir.markReady(dir)

  /** Incrementally index a batch — the daily-ingest path: new chunk rows
    * land as additional files inside the existing `pk` partition
    * directories, so probe-side pruning is unchanged and the corpus is
    * never re-fingerprinted. Id collisions with already-indexed clips
    * would silently double candidate rows, so append ABORTS on overlap
    * (the G3 duplicate-abort discipline); the gate reads only the
    * batch's own id buckets of the membership table. Crash ordering:
    * chunks land BEFORE ids — a retry after a mid-append crash may
    * duplicate chunk rows (probe's candidate `distinct()` absorbs that)
    * but can never abort against its own half-written ids.
    *
    * Concurrency: the id-collision gate is check-then-act, so two
    * CONCURRENT appends overlapping on an id (different fingerprints)
    * would both pass it and corrupt the index. Appends therefore
    * serialize on the index's `append.lock` ([[IndexDir.withLock]]) held
    * across the gate and both writes. */
  def append(spark: SparkSession, batch: DataFrame, idCol: String,
             fpCol: String, dir: String): Unit = {
    val meta = metaOf(dir)
    val bits = meta("bits"); val nParts = meta("nParts")
    IndexDir.withLock(IndexDir.appendLock(dir), "append") {
      // INSIDE the lock (IndexTxn.acquire checks append.lock after its own
      // CAS, so one side of any interleaving always sees the other)
      IndexTxn.requireNoOpenTxn(dir)
      appendLocked(spark, batch, idCol, fpCol, dir, bits, nParts)
    }
  }

  private def appendLocked(spark: SparkSession, batch: DataFrame,
      idCol: String, fpCol: String, dir: String, bits: Int, nParts: Int): Unit = {
    val rows = chunkRows(batch, idCol, fpCol, bits, nParts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val newIds = rows.select(col("id")).distinct()
        .withColumn("hb", pmod(TextHash.md5Long(col("id").cast("string")),
          lit(nParts.toLong)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val hbs = newIds.select(col("hb")).distinct().collect().map(_.getLong(0))
        val clash = readLive(spark, dir, "ids", idsSchema)
          .filter(col("hb").isin(hbs: _*))
          .join(newIds.select(col("id")), "id").limit(1).collect()
        require(clash.isEmpty,
          s"append would duplicate already-indexed id ${clash.headOption}")
        rows.repartition(col("pk"))
          .write.mode("append").partitionBy("pk").parquet(s"$dir/chunks")
        newIds.repartition(col("hb"))
          .write.mode("append").partitionBy("hb").parquet(s"$dir/ids")
      } finally newIds.unpersist()
    } finally rows.unpersist()
  }

  private def chunkRows(fps: DataFrame, idCol: String, fpCol: String,
                        bits: Int, nParts: Int): DataFrame =
    // the chunk split delegates to SimHashDedup.fpChunkCols — the index's
    // losslessness proof needs the exact geometry chunkBlockedPairs uses
    fps.filter(col(fpCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(fpCol).as("fp"))
      .select(col("id"), col("fp"), explode(array(
        graft.operators.SimHashDedup.fpChunkCols(col("fp"), bits): _*)).as("c"))
      .select(col("id"), col("fp"), col("c.ci").as("ci"), col("c.cv").as("cv"))
      .withColumn("pk", pmod(TextHash.md5Long(
        concat(col("ci").cast("string"), lit(":"), col("cv").cast("string"))),
        lit(nParts.toLong)))

  // explicit read schemas: an index built from zero non-null fingerprints
  // writes EMPTY partitioned dirs, and schema inference would throw on
  // them — one bad media batch must not poison the index for readers
  private val chunksSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("fp", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ci", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("cv", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("pk", org.apache.spark.sql.types.LongType)))
  private val idsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("hb", org.apache.spark.sql.types.LongType)))

  /** All LIVE copies of an index subtree: the main tree plus committed
    * transactional pendings ([[IndexTxn.livePaths]]), read with the
    * explicit schema and unioned (partition filters push through the
    * Union into every child scan). */
  private def readLive(spark: SparkSession, dir: String, sub: String,
                       schema: org.apache.spark.sql.types.StructType): DataFrame =
    IndexTxn.livePaths(dir, sub)
      .filter(p => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p)))
      .map(p => spark.read.schema(schema).parquet(p))
      .reduce(_ unionByName _)

  /** Stage a batch append INSIDE a multi-participant transaction: the
    * chunk/id subtrees land under `pending/<txid>/`, invisible to every
    * probe until the transaction's single `.decision` file says commit —
    * at which instant the table commits staged alongside it flip too
    * ([[SnapshotTxn]]). The id-collision gate runs against the LIVE view
    * (main tree + committed pendings); the open-txn lock taken at
    * [[SnapshotTxn.begin]] keeps rival writers out of the window between
    * gate and decision. */
  def stageAppend(spark: SparkSession, batch: DataFrame, idCol: String,
                  fpCol: String, dir: String, h: SnapshotTxn.Handle): Unit = {
    require(IndexTxn.openTxnId(dir).contains(h.txid),
      s"index $dir is not enrolled in transaction ${h.txid} — pass it to SnapshotTxn.begin(indexes = ...)")
    val meta = metaOf(dir)
    val bits = meta("bits"); val nParts = meta("nParts")
    val rows = chunkRows(batch, idCol, fpCol, bits, nParts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val newIds = rows.select(col("id")).distinct()
        .withColumn("hb", pmod(TextHash.md5Long(col("id").cast("string")),
          lit(nParts.toLong)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val hbs = newIds.select(col("hb")).distinct().collect().map(_.getLong(0))
        val clash = readLive(spark, dir, "ids", idsSchema)
          .filter(col("hb").isin(hbs: _*))
          .join(newIds.select(col("id")), "id").limit(1).collect()
        require(clash.isEmpty,
          s"staged append would duplicate already-indexed id ${clash.headOption}")
        // txn.info FIRST: a crash mid-stage leaves a tree recover() can
        // resolve (and abort-clean); the data itself stays invisible
        // either way until the decision exists
        IndexTxn.writeInfo(dir, h.txid, h.txnDir)
        val pend = IndexTxn.pendingDir(dir, h.txid)
        rows.repartition(col("pk")).write.mode("overwrite").partitionBy("pk")
          .parquet(pend.resolve("chunks").toString)
        newIds.repartition(col("hb")).write.mode("overwrite").partitionBy("hb")
          .parquet(pend.resolve("ids").toString)
        IndexTxn.markStaged(dir, h.txid) // data complete — now publishable
      } finally newIds.unpersist()
    } finally rows.unpersist()
  }

  private def metaOf(dir: String): Map[String, Int] = {
    IndexDir.requireReady(dir)
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/meta.json"))
    """"(\w+)":(\d+)""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toInt).toMap
  }

  /** Streaming near-dup ingest over fingerprints — [[LshIndex]]'s
    * production loop for the perceptual modalities: each micro-batch of
    * `(idCol, fpCol)` rows (decode/fingerprint upstream in the stream —
    * the index is modality-agnostic) is probed against the corpus,
    * near-dups of the corpus AND of smaller-id batchmates drop, and the
    * survivors are indexed. Exactly-once per batch via the same
    * hard-link commit-marker + claim ([[IndexDir.claimed]]) as
    * [[LshIndex]]. */
  def startDedupStream(
      spark: SparkSession, stream: DataFrame, idCol: String, fpCol: String,
      dir: String, checkpointDir: String,
      onSurvivors: (DataFrame, Long) => Unit = (_, _) => ())
    : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processDedupBatch(spark, batch, idCol, fpCol, dir, batchId)
          .foreach(sv => onSurvivors(sv, batchId))
        spark.catalog.clearCache() // the long-running-stream cache rule
      }
      .start()

  /** One micro-batch of [[startDedupStream]] — public so replay and crash
    * semantics are directly testable ([[LshIndex.processDedupBatch]]'s
    * contract: None for an already-committed batch, else the survivor
    * rows — locally CHECKPOINTED, so they stay valid after this method's
    * own index writes; intermediates still follow the caller-releases
    * clearCache convention). */
  def processDedupBatch(
      spark: SparkSession, batch: DataFrame, idCol: String, fpCol: String,
      dir: String, batchId: Long, maxHamming: Int = 3,
      rivalWaitMs: Long = 30000L): Option[DataFrame] = {
    val commits = java.nio.file.Paths.get(s"$dir/commits")
    java.nio.file.Files.createDirectories(commits)
    val marker = commits.resolve(s"batch-$batchId")
    if (java.nio.file.Files.exists(marker)) return None
    IndexTxn.requireNoOpenTxn(dir) // admits write to the main tree below

    val meta = metaOf(dir)
    val bits = meta("bits"); val nParts = meta("nParts")
    val corpusDups = probe(spark, batch, idCol, fpCol, dir, maxHamming)
      .select(col("query_id").as("__dup")).distinct()
    // near-dup of a SMALLER-id batchmate: deterministic canonical keep
    val batchDups = graft.operators.SimHashDedup
      .chunkBlockedPairs(batch, idCol, fpCol, bits, maxHamming)
      .select(greatest(col("id_a"), col("id_b")).as("__dup")).distinct()
    // an ALREADY-ADMITTED id re-sent by an at-least-once upstream is not
    // new content: the probe's self-pair filter hides it (qid == cid), so
    // the membership table supplies the id-level idempotence — pruned to
    // the batch's own id buckets, never a corpus scan
    val bIds = batch.select(col(idCol).cast("long").as("id"))
      .withColumn("hb", pmod(TextHash.md5Long(col("id").cast("string")),
        lit(nParts.toLong)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bHbs = bIds.select(col("hb")).distinct().collect().map(_.getLong(0))
    val resent = readLive(spark, dir, "ids", idsSchema)
      .filter(col("hb").isin(bHbs: _*))
      .join(bIds.select(col("id")), "id").select(col("id").as("__dup"))
    // localCheckpoint, NOT persist: the admit-writes below append to the
    // very paths this plan reads ($dir/ids via `resent`, $dir/chunks via
    // the probe), and Spark INVALIDATES caches touching a written path —
    // a lazily re-evaluated survivors would then see its own admissions
    // as duplicates and come back empty. Checkpointing cuts the lineage
    // before any write so the result is immutable (the Dbscan/Bfs
    // discipline).
    val survivors = batch
      .join(corpusDups.unionByName(batchDups).unionByName(resent).distinct(),
        col(idCol).cast("long") === col("__dup"), "left_anti")
      .localCheckpoint()
    bIds.unpersist()

    if (!survivors.isEmpty) {
      val rows = chunkRows(survivors, idCol, fpCol, bits, nParts)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // chunks FIRST: a crash-replay duplicates chunk rows, which probe's
      // candidate distinct() absorbs; duplicated ids would NOT be benign,
      // so ids go second, filtered against what the index already holds
      rows.write.mode("append").partitionBy("pk").parquet(s"$dir/chunks")
      val won = IndexDir.claimed(commits, batchId, marker, rivalWaitMs) {
        val newIds = rows.select(col("id")).distinct()
          .withColumn("hb", pmod(TextHash.md5Long(col("id").cast("string")),
            lit(nParts.toLong)))
        val hbs = newIds.select(col("hb")).distinct().collect().map(_.getLong(0))
        val existing = readLive(spark, dir, "ids", idsSchema)
          .filter(col("hb").isin(hbs: _*)).select(col("id"))
        newIds.join(existing, Seq("id"), "left_anti")
          .write.mode("append").partitionBy("hb").parquet(s"$dir/ids")
      }
      rows.unpersist()
      if (!won) return None // the rival finished this batch
    } else IndexDir.commitMarker(commits, marker)
    Some(survivors)
  }

  /** Near-dup pairs `(query_id, corpus_id, hamming)` of a probe batch
    * against the indexed corpus, Hamming ≤ `maxHamming` (≤ 3: the
    * pigeonhole guarantee), self-pairs excluded. I/O ∝ batch + candidate
    * chunk partitions. */
  def probe(spark: SparkSession, batch: DataFrame, idCol: String,
            fpCol: String, dir: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk blocking is only lossless for Hamming <= 3")
    val meta = metaOf(dir)
    val bits = meta("bits"); val nParts = meta("nParts")
    val q = chunkRows(batch, idCol, fpCol, bits, nParts)
      .select(col("id").as("qid"), col("fp").as("qfp"),
        col("ci"), col("cv"), col("pk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // static partition pruning: <= nParts distinct values, never rows
    val pks = q.select(col("pk")).distinct().collect().map(_.getLong(0))
    val c = readLive(spark, dir, "chunks", chunksSchema)
      .filter(col("pk").isin(pks: _*))
      .select(col("id").as("cid"), col("fp").as("cfp"), col("ci"), col("cv"))
    q.join(c, Seq("ci", "cv"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("qfp"), col("cfp"))
      .distinct()
      .withColumn("hamming", expr("bit_count(qfp ^ cfp)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("qid").as("query_id"), col("cid").as("corpus_id"), col("hamming"))
  }

  /** CANDIDATE-VOLUME DRIFT audit for an appended batch — the q334
    * argument applied to the pigeonhole index. RECALL cannot drift here
    * (4-chunk blocking is PROVABLY lossless within the design distance —
    * the brute-pair oracles of q296/q328/q330 are the standing proof), but
    * probe COST can: a batch whose fingerprints collapse into few chunk
    * values (silent audio, black frames, boilerplate text) piles into the
    * same buckets and blows candidate volume quadratically for every
    * future probe. Per doc, `cand` = distinct partners sharing ≥ 1 chunk
    * (exactly the pre-verify candidate set a probe of that doc pays for);
    * the verdict compares the appended batch's mean against the base's in
    * exact basis points, one-sided at `skewAboveBp` (a LOW batch is cheap,
    * not broken). The ratio is computed over +1-SMOOTHED milli-means —
    * `((batch_milli+1)·10⁴) div (prev_milli+1)` — so it stays total and
    * finite when the base had ZERO collisions: a degenerate batch over a
    * clean base is the most dangerous case and must still flag (a raw
    * ratio would be 0/0-undefined exactly there). `batchPred` classifies
    * indexed `id`s.
    *
    * Caching contract (as [[probe]]): the chunk relation is persisted
    * (both sides of the collision self-join consume it) and stays cached
    * after evaluation — long-lived sessions auditing after each append
    * should `spark.catalog.clearCache()` once the verdict is consumed. */
  def candidateDrift(spark: SparkSession, dir: String,
      batchPred: org.apache.spark.sql.Column,
      skewAboveBp: Long = 20000): DataFrame = {
    IndexDir.requireReady(dir) // the only reader that never touches metaOf
    val ch = readLive(spark, dir, "chunks", chunksSchema)
      .select(col("id"), col("ci"), col("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partners = ch.as("x").join(ch.as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
          col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id"), col("y.id").as("pid"))
      .distinct()
      .groupBy(col("id")).agg(count(lit(1)).as("cand"))
    // docs whose chunks collide with nothing contribute 0 — walk the full
    // membership table, not just the collision survivors
    val ids = readLive(spark, dir, "ids", idsSchema).select(col("id"))
    ids.join(partners, Seq("id"), "left")
      .select(coalesce(col("cand"), lit(0L)).as("cand"), batchPred.as("is_batch"))
      .agg(
        sum(when(!col("is_batch"), 1L).otherwise(0L)).as("n_prev"),
        sum(when(!col("is_batch"), col("cand")).otherwise(0L)).as("prev_cand"),
        sum(when(col("is_batch"), 1L).otherwise(0L)).as("n_batch"),
        sum(when(col("is_batch"), col("cand")).otherwise(0L)).as("batch_cand"))
      .select(col("n_prev"), col("n_batch"), col("prev_cand"), col("batch_cand"),
        expr("CASE WHEN n_prev > 0 THEN (prev_cand * 1000) div n_prev END")
          .as("prev_cand_milli"),
        expr("CASE WHEN n_batch > 0 THEN (batch_cand * 1000) div n_batch END")
          .as("batch_cand_milli"))
      .select(col("n_prev"), col("n_batch"), col("prev_cand"), col("batch_cand"),
        col("prev_cand_milli"), col("batch_cand_milli"),
        expr("CASE WHEN n_prev > 0 AND n_batch > 0 THEN " +
          "(CAST(batch_cand_milli + 1 AS DECIMAL(38,0)) * 10000) div " +
          "CAST(prev_cand_milli + 1 AS DECIMAL(38,0)) END").cast("long")
          .as("drift_bp"))
      .withColumn("skewed", coalesce(col("drift_bp") > skewAboveBp, lit(false)))
  }
}
