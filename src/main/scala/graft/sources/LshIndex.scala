package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.operators.MinHashDedup

/** Persisted MinHash-LSH index: near-duplicate lookup of an INCOMING BATCH
  * against an already-indexed corpus without re-shingling (or even fully
  * re-reading) the corpus.
  *
  * The batch-vs-corpus probe is the shape ingest pipelines actually run —
  * "dedupe today's crawl against everything we already have" — and at
  * 100 TB the corpus side must be an INDEX, not a scan: re-running
  * [[MinHashDedup.pairs]] over corpus+batch re-pays the full corpus
  * shingle/signature/band cost on every ingest.
  *
  * On-disk layout (all plain parquet + one JSON sidecar):
  * {{{
  *   dir/meta.json   {numHashes, bands, nParts}   config fingerprint
  *   dir/bands/      (id, bk, s0..s{k-1})  partitioned by pk = md5(bk) % nParts
  *   dir/docs/       (id, hashes)          partitioned by hb = md5(id) % nParts
  * }}}
  *
  * Probe cost model (why each partitioning exists):
  *   1. the batch's band keys determine a set of `pk` values — the bands
  *      dataset is read with a PARTITION filter on them, so only matching
  *      band buckets' files open (static pruning, the
  *      [[graft.operators.KMeansIVF.indexTopK]] pattern);
  *   2. candidates are estimate-pruned from the signature columns carried
  *      IN the band rows — no second corpus read for signatures;
  *   3. only surviving candidates' shingle sets are fetched: their `hb`
  *      buckets again prune the docs dataset before any file opens.
  *   So probe I/O is ∝ batch size + candidate volume, never corpus size.
  *
  * Both driver-side `collect`s are bounded by `nParts` (they fetch DISTINCT
  * partition values, never rows). The two probe-side relations that are
  * consumed twice (batch signatures, pruned candidates) are persisted —
  * the library caching contract of [[MinHashDedup.pairs]] applies: callers
  * release with `spark.catalog.clearCache()` once the result is consumed.
  */
object LshIndex {

  /** Build (or rebuild) the index at `dir` from the corpus, inside the
    * [[IndexDir.rebuild]] scope (lock, open-txn refusal, pending reset,
    * `_ready` revoked first and written last; `meta.json` is the sidecar). */
  def write(corpus: DataFrame, idCol: String, shingleHashes: Column, dir: String,
      cfg: MinHashDedup.Config = MinHashDedup.Config(), nParts: Int = 64): Unit =
    IndexDir.rebuild(dir) {
      val sh = MinHashDedup.hashed(corpus, idCol, shingleHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sig = MinHashDedup.withSignature(sh, cfg)
      // cluster by the partition column before each write (guide-§6
      // rebalance): one file per dir regardless of upstream parallelism —
      // without it every upstream task writes to every dir
      MinHashDedup.bandRows(sig, cfg)
        .withColumn("pk", pmod(TextHash.md5Long(col("bk")), lit(nParts)))
        .repartition(col("pk"))
        .write.mode("overwrite").partitionBy("pk").parquet(s"$dir/bands")
      sh.select(col("id"), col("hashes"))
        .withColumn("hb", pmod(TextHash.md5Long(col("id").cast("string")), lit(nParts)))
        .repartition(col("hb"))
        .write.mode("overwrite").partitionBy("hb").parquet(s"$dir/docs")
      sh.unpersist()
      ((), Seq("meta.json" ->
        s"""{"numHashes":${cfg.numHashes},"bands":${cfg.bands},"nParts":$nParts}"""))
    }

  /** [[IndexDir.markReady]]: the one-time `_ready` migration for an index
    * written before the gate existed. */
  def markReady(dir: String): Unit = IndexDir.markReady(dir)

  /** Incrementally index a new batch into an existing index — the daily
    * ingest path: the corpus is never re-shingled, only the batch pays
    * signature cost, and the new rows land as additional files inside the
    * existing `pk`/`hb` partition directories (append-mode parquet), so
    * probe-side partition pruning is unchanged.
    *
    * Id collisions with already-indexed docs would silently double rows,
    * so append ABORTS on any overlap (the G3 duplicate-abort discipline).
    * The gate's corpus read is partition-pruned to the BATCH's own id
    * buckets — bounded by batch size, never corpus size.
    *
    * Concurrency: the gate is check-then-write, so two CONCURRENT appends
    * could both pass it before either writes. Appends therefore serialize
    * on the index's `append.lock` ([[IndexDir.withLock]]); a lock left by
    * a crashed append fails the next one loudly.
    *
    * Crash ordering: bands are written before docs. A failure between the
    * two leaves band rows whose docs are missing — probes stay correct
    * (candidates against absent docs drop at the doc join, and probe
    * dedups duplicate candidates) — and simply RE-RUNNING the same append
    * converges: the collision gate still sees no docs, bands append again
    * (harmless duplicates), docs land exactly once.
    */
  def append(spark: SparkSession, batch: DataFrame, idCol: String,
      shingleHashes: Column, dir: String,
      cfg: MinHashDedup.Config = MinHashDedup.Config()): Unit = {
    val meta = metaOf(dir)
    require(meta("numHashes") == cfg.numHashes && meta("bands") == cfg.bands,
      s"append cfg (${cfg.numHashes}/${cfg.bands}) != index meta " +
        s"(${meta("numHashes")}/${meta("bands")})")
    val nParts = meta("nParts")
    IndexDir.withLock(IndexDir.appendLock(dir), "append") {
      // INSIDE the lock (IndexTxn.acquire checks append.lock after its own
      // CAS, so one side of any interleaving always sees the other)
      IndexTxn.requireNoOpenTxn(dir)
      val sh = MinHashDedup.hashed(batch, idCol, shingleHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val newDocs = sh.select(col("id"), col("hashes"))
        .withColumn("hb", pmod(TextHash.md5Long(col("id").cast("string")), lit(nParts)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      val hbs = newDocs.select(col("hb")).distinct().collect().map(_.getLong(0))
      val clash = readLive(spark, dir, "docs")
        .filter(col("hb").isin(hbs: _*)).select(col("id"))
        .join(newDocs.select(col("id")), "id", "left_semi")
        .limit(5).collect().map(_.get(0))
      require(clash.isEmpty,
        s"append would duplicate already-indexed ids (first ${clash.length}): " +
          clash.mkString(", "))

      // bands FIRST (the startDedupStream ordering): a crash between the two
      // writes leaves extra band rows, which probe provably tolerates (it
      // dedups candidates), and the RETRY converges — the collision gate
      // re-checks docs, finds none, and appends both again (band dups
      // benign, docs exactly once). Docs-first would leave the batch
      // permanently unretryable: the gate would abort every retry.
      val sig = MinHashDedup.withSignature(sh, cfg)
      MinHashDedup.bandRows(sig, cfg)
        .withColumn("pk", pmod(TextHash.md5Long(col("bk")), lit(nParts)))
        .repartition(col("pk"))
        .write.mode("append").partitionBy("pk").parquet(s"$dir/bands")
      newDocs.repartition(col("hb"))
        .write.mode("append").partitionBy("hb").parquet(s"$dir/docs")
      newDocs.unpersist()
      sh.unpersist()
    }
  }

  /** Streaming near-dup ingest: each micro-batch is probed against the
    * index, near-dups (of the corpus AND of smaller-id batchmates) are
    * dropped, and the survivors are indexed — the production "dedupe
    * today's crawl against everything we have, then admit it" loop.
    *
    * Exactly-once: checkpointed source offsets + a per-batch marker file
    * in `dir/commits/` (hard-link create — atomic fail-if-exists). A
    * replayed, already-marked batch is a no-op. A batch that crashed
    * mid-append replays in full: its band rows may append twice —
    * harmless, [[probe]] dedups candidates — and its doc rows are
    * re-filtered against the docs dataset (the bounded bucket-pruned
    * read), so docs never duplicate. Between a crash and its replay the
    * half-appended batch may be invisible to probes; replay converges.
    *
    * Concurrency: the docs re-filter is check-then-write, so two RIVAL
    * workers running the same batch (two drivers on one checkpoint — a
    * deployment error the commit marker alone cannot catch in time) could
    * both anti-join against the pre-write docs and both append. The docs
    * section therefore runs under a per-batch `claim-<id>` marker
    * ([[IndexDir.claimed]]): the loser waits for the winner's completion
    * marker and no-ops. A claim left by a CRASH inside the docs write fails the
    * replay LOUDLY — remove `dir/commits/claim-<id>` after confirming no
    * rival is live; every crash window BEFORE the claim still replays
    * automatically as before.
    *
    * Batch path vs this path: [[append]] ABORTS on id collisions (a batch
    * caller duplicating ids is a bug); the stream SKIPS already-indexed
    * ids (a replay re-offering them is the protocol working).
    */
  def startDedupStream(
      spark: SparkSession,
      stream: DataFrame,
      idCol: String,
      shingleHashes: Column,
      dir: String,
      checkpointDir: String,
      cfg: MinHashDedup.Config = MinHashDedup.Config(),
      onSurvivors: (DataFrame, Long) => Unit = (_, _) => (),
      multiProbe: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processDedupBatch(spark, batch, idCol, shingleHashes, dir, cfg, batchId,
          multiProbe = multiProbe)
          .foreach(sv => onSurvivors(sv, batchId))
        // probe/pairs persist intermediates under the library caching
        // contract (caller releases); in a LONG-RUNNING stream nothing
        // else ever releases them, so each batch would leak cached
        // relations. The callback has consumed the survivors by now —
        // drop the batch's whole cache footprint before the next one.
        spark.catalog.clearCache()
      }
      .start()

  /** One micro-batch of [[startDedupStream]] — public so replay and crash
    * semantics are directly testable without stream-restart machinery.
    * Returns None for an already-committed batch; otherwise the SURVIVOR
    * rows (persisted — caller releases via `spark.catalog.clearCache()`).
    */
  def processDedupBatch(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      shingleHashes: Column,
      dir: String,
      cfg: MinHashDedup.Config,
      batchId: Long,
      rivalWaitMs: Long = 30000L,
      multiProbe: Int = 0): Option[DataFrame] = {
    val commits = java.nio.file.Paths.get(s"$dir/commits")
    java.nio.file.Files.createDirectories(commits)
    val marker = commits.resolve(s"batch-$batchId")
    if (java.nio.file.Files.exists(marker)) return None
    IndexTxn.requireNoOpenTxn(dir) // admits write to the main tree below

    val meta = metaOf(dir)
    val nParts = meta("nParts")
    // near-dups of the already-indexed corpus — `multiProbe` > 0 buys the
    // ingest loop the same recall trade as ad-hoc probes (smaller index,
    // more perturbation buckets per batch); a dup found ONLY by a
    // perturbed bucket is still exact-verified before it drops a doc
    val corpusDups = probe(spark, batch, idCol, shingleHashes, dir, cfg, multiProbe)
      .select(col("query_id").as("__dup")).distinct()
    // near-dups of a SMALLER-id batchmate (deterministic canonical keep —
    // replay recomputes the identical pair set)
    val batchDups = MinHashDedup.pairs(batch, idCol, shingleHashes, cfg)
      .select(greatest(col("id_a"), col("id_b")).as("__dup")).distinct()
    val survivors = batch
      .join(corpusDups.unionByName(batchDups).distinct(),
        col(idCol) === col("__dup"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    if (!survivors.isEmpty) {
      val sh = MinHashDedup.hashed(survivors, idCol, shingleHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // bands FIRST: replayed duplicates are benign (probe dedups
      // candidates); docs duplicates would not be, so docs go second,
      // filtered against what the index already holds
      val sig = MinHashDedup.withSignature(sh, cfg)
      MinHashDedup.bandRows(sig, cfg)
        .withColumn("pk", pmod(TextHash.md5Long(col("bk")), lit(nParts)))
        .repartition(col("pk"))
        .write.mode("append").partitionBy("pk").parquet(s"$dir/bands")
      // CLAIM the batch before the docs read-filter-write (the rival-worker
      // TOCTOU: without it, two workers on this batch both anti-join
      // against the PRE-write docs and both append). Held only across the
      // docs section; released after the completion marker lands.
      val won = IndexDir.claimed(commits, batchId, marker, rivalWaitMs) {
        val newDocs = sh.select(col("id"), col("hashes"))
          .withColumn("hb", pmod(TextHash.md5Long(col("id").cast("string")), lit(nParts)))
        val hbs = newDocs.select(col("hb")).distinct().collect().map(_.getLong(0))
        val existing = readLive(spark, dir, "docs")
          .filter(col("hb").isin(hbs: _*)).select(col("id"))
        newDocs.join(existing, Seq("id"), "left_anti")
          .repartition(col("hb"))
          .write.mode("append").partitionBy("hb").parquet(s"$dir/docs")
      }
      sh.unpersist()
      if (!won) {
        survivors.unpersist()
        return None // the rival finished this batch — protocol working
      }
    } else IndexDir.commitMarker(commits, marker)
    Some(survivors)
  }

  /** All LIVE copies of an index subtree: the main tree plus committed
    * transactional pendings ([[IndexTxn.livePaths]]). Schema is inferred
    * per path (the band schema depends on cfg), so subtrees with no
    * parquet footers (an empty staged batch) are skipped. */
  private def readLive(spark: SparkSession, dir: String, sub: String): DataFrame =
    IndexTxn.livePaths(dir, sub)
      .filter { p =>
        val path = java.nio.file.Paths.get(p)
        java.nio.file.Files.isDirectory(path) && {
          val st = java.nio.file.Files.walk(path)
          try st.anyMatch(f => f.toString.endsWith(".parquet"))
          finally st.close()
        }
      }
      .map(p => spark.read.parquet(p))
      .reduce(_ unionByName _)

  /** RECALL-DRIFT AUDIT for an appended batch — the q334 argument applied
    * to LSH: appends shift the corpus (doc length, shingle distribution)
    * while the band geometry stays fixed, and nothing else incremental
    * would flag the decay. Per appended batch:
    *
    *   1. a DETERMINISTIC sample of the batch (md5 % mod, mod
    *      count-derived so the sample is ≤ `sampleCap` docs at ANY batch
    *      size — the [[graft.operators.KMeansIVF.sampleModFor]] idiom);
    *   2. FOUND = the real banded probe path against the live index
    *      ([[probe]] — partition-pruned bands, estimate prune, exact
    *      verify);
    *   3. TRUTH = the exact-Jaccard pairs of the sample against the
    *      index's own doc table, via the INVERTED-INDEX join on shingle
    *      hashes (linear in shared shingles, never sample × corpus);
    *   4. one row: counts, `recall_bp = hits·10⁴ div truth` (NULL when
    *      the sample hits no truth pairs — both engines agree), and the
    *      `degraded` verdict below `degradedBelowBp`.
    *
    * Every number is an exact integer, so the verdict itself is
    * hash-checkable ([[appendRecallAuditOracleSql]] replays the whole
    * pipeline including the probe). Caching contract of [[probe]]
    * applies (internals persisted; callers clearCache when done). */
  def appendRecallAudit(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, shingleHashes: Column,
      cfg: MinHashDedup.Config = MinHashDedup.Config(),
      sampleCap: Long = 512, degradedBelowBp: Long = 7500): DataFrame = {
    val mod = graft.operators.KMeansIVF.sampleModFor(batch.count(), sampleCap)
    val sample = batch.filter(
      pmod(TextHash.md5Long(col(idCol).cast("string")), lit(mod)) === 0)
    val found = probe(spark, sample, idCol, shingleHashes, dir, cfg)
      .select(col("query_id"), col("corpus_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact truth on the hashed (distinct) shingle sets — the same arrays
    // probe verifies with, so FOUND ⊆ TRUTH by construction and hits/truth
    // IS banded recall. Candidates come from the LOSSLESS prefix filter
    // (jaccardCrossCandidates) rather than a raw inverted-index join on
    // every shingle hash: the raw join fans out Σ_h qf(h)·df(h) and a
    // stopword-heavy shingle at 100× data would dominate it; prefix tokens
    // are rare-first, so the truth join is hub-safe. The conservative
    // rational threshold (floor(τ·1000)/1000 ≤ τ) only widens candidates;
    // the accept filter below is byte-identical to the oracle's replay,
    // so the truth SET — and the gate hash — are unchanged (the gate
    // match is itself the losslessness proof, the q98 doctrine).
    // both hash relations feed candidate generation AND the verify join —
    // persist so the shingle-hash scan runs once per relation (round-5
    // rule; probe's caching contract already applies to this method)
    val qsh = MinHashDedup.hashed(sample, idCol, shingleHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val csh = readLive(spark, dir, "docs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tn = math.floor(cfg.jaccardThreshold * 1000).toInt
    val truth = graft.operators.PrefixFilterJoin
      .jaccardCrossCandidates(qsh, csh, "id", "hashes", tn, 1000)
      .filter(col("query_id") =!= col("corpus_id"))
      .join(qsh.select(col("id").as("query_id"),
        sort_array(col("hashes")).as("qh"), size(col("hashes")).as("nq")), "query_id")
      .join(csh.select(col("id").as("corpus_id"),
        sort_array(col("hashes")).as("ch"), size(col("hashes")).as("nc")), "corpus_id")
      .withColumn("inter", graft.functions.VectorExpressions
        .sortedIntersectCount(col("qh"), col("ch")))
      .filter(col("inter").cast("double") /
        (col("nq") + col("nc") - col("inter")) >= cfg.jaccardThreshold)
      .select(col("query_id"), col("corpus_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hits = truth.join(found, Seq("query_id", "corpus_id"), "left_semi")
    sample.agg(count(lit(1)).as("n_sample"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .select(col("n_sample"), col("n_truth"), col("n_hits"), col("n_found"),
        expr("CASE WHEN n_truth > 0 THEN (n_hits * 10000) div n_truth END")
          .as("recall_bp"),
        coalesce(expr("CASE WHEN n_truth > 0 THEN " +
          s"((n_hits * 10000) div n_truth) < $degradedBelowBp END"), lit(false))
          .as("degraded"))
  }

  /** DuckDB replay of [[appendRecallAudit]]: the probe pipeline
    * ([[MinHashDedup.probeOracleSql]]) nested as FOUND, the inverted-index
    * exact truth, and the integer rollup. `batchPred` selects the appended
    * batch's rows of `$table` (by `id`); the sample modulus replays
    * `sampleModFor` over it. */
  def appendRecallAuditOracleSql(table: String, idCol: String,
      shingleSql: String, cfg: MinHashDedup.Config, batchPred: String,
      sampleCap: Long = 512, degradedBelowBp: Long = 7500): String = {
    val h = TextHash.md5LongSql("id::VARCHAR")
    val mod = s"(SELECT greatest(1, (count(*) + ${sampleCap - 1}) // $sampleCap) " +
      s"FROM (SELECT $idCol AS id FROM $table) WHERE $batchPred)"
    val samplePred = s"($batchPred) AND $h % $mod = 0"
    val probeSql = MinHashDedup.probeOracleSql(
      table, idCol, shingleSql, cfg, tProbes = 0,
      batchPred = samplePred, corpusPred = "TRUE")
    s"""WITH found AS ($probeSql),
       |ahs AS (SELECT $idCol AS id,
       |        list_distinct(list_transform($shingleSql, x -> ${TextHash.baseHashSql("x")})) AS h
       |      FROM $table),
       |qx AS (SELECT id AS query_id, len(h) AS nq, unnest(h) AS hh FROM ahs
       |       WHERE $samplePred),
       |cx AS (SELECT id AS corpus_id, len(h) AS nc, unnest(h) AS hh FROM ahs),
       |truth AS (SELECT query_id, corpus_id FROM (
       |    SELECT query_id, corpus_id, count(*) AS inter, max(nq) AS nq, max(nc) AS nc
       |    FROM qx JOIN cx USING (hh) WHERE query_id <> corpus_id
       |    GROUP BY 1, 2)
       |  WHERE inter::DOUBLE / (nq + nc - inter) >= ${cfg.jaccardThreshold}),
       |hits AS (SELECT t.query_id, t.corpus_id FROM truth t
       |         JOIN found f ON t.query_id = f.query_id AND t.corpus_id = f.corpus_id),
       |st AS (SELECT
       |    (SELECT count(*) FROM ahs WHERE $samplePred)::BIGINT AS n_sample,
       |    (SELECT count(*) FROM truth)::BIGINT AS n_truth,
       |    (SELECT count(*) FROM hits)::BIGINT AS n_hits,
       |    (SELECT count(*) FROM found)::BIGINT AS n_found)
       |SELECT n_sample, n_truth, n_hits, n_found,
       |  CASE WHEN n_truth > 0 THEN (n_hits * 10000) // n_truth END AS recall_bp,
       |  coalesce(CASE WHEN n_truth > 0
       |    THEN ((n_hits * 10000) // n_truth) < $degradedBelowBp END, FALSE) AS degraded
       |FROM st""".stripMargin
  }

  /** Stage a batch append INSIDE a multi-participant transaction
    * ([[SnapshotTxn]]): bands/docs land under `pending/<txid>/`,
    * invisible to probes until the transaction's single `.decision` file
    * says commit — the [[HammingIndex.stageAppend]] contract for the
    * MinHash index. The id-collision gate runs against the LIVE view
    * (main + committed pendings); rival writers are excluded by the
    * open-txn lock taken at `SnapshotTxn.begin`. */
  def stageAppend(spark: SparkSession, batch: DataFrame, idCol: String,
      shingleHashes: Column, dir: String, h: SnapshotTxn.Handle,
      cfg: MinHashDedup.Config = MinHashDedup.Config()): Unit = {
    require(IndexTxn.openTxnId(dir).contains(h.txid),
      s"index $dir is not enrolled in transaction ${h.txid} — pass it to SnapshotTxn.begin(indexes = ...)")
    val meta = metaOf(dir)
    require(meta("numHashes") == cfg.numHashes && meta("bands") == cfg.bands,
      s"stage cfg (${cfg.numHashes}/${cfg.bands}) != index meta " +
        s"(${meta("numHashes")}/${meta("bands")})")
    val nParts = meta("nParts")
    val sh = MinHashDedup.hashed(batch, idCol, shingleHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val newDocs = sh.select(col("id"), col("hashes"))
        .withColumn("hb", pmod(TextHash.md5Long(col("id").cast("string")), lit(nParts)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val hbs = newDocs.select(col("hb")).distinct().collect().map(_.getLong(0))
        val clash = readLive(spark, dir, "docs")
          .filter(col("hb").isin(hbs: _*)).select(col("id"))
          .join(newDocs.select(col("id")), "id", "left_semi")
          .limit(5).collect().map(_.get(0))
        require(clash.isEmpty,
          s"staged append would duplicate already-indexed ids (first ${clash.length}): " +
            clash.mkString(", "))
        // txn.info FIRST: a crash mid-stage leaves a tree recover() can
        // resolve and abort-clean; nothing is visible before the decision
        IndexTxn.writeInfo(dir, h.txid, h.txnDir)
        val pend = IndexTxn.pendingDir(dir, h.txid)
        val sig = MinHashDedup.withSignature(sh, cfg)
        MinHashDedup.bandRows(sig, cfg)
          .withColumn("pk", pmod(TextHash.md5Long(col("bk")), lit(nParts)))
          .repartition(col("pk"))
          .write.mode("overwrite").partitionBy("pk")
          .parquet(pend.resolve("bands").toString)
        newDocs.repartition(col("hb"))
          .write.mode("overwrite").partitionBy("hb")
          .parquet(pend.resolve("docs").toString)
        IndexTxn.markStaged(dir, h.txid) // data complete — now publishable
      } finally newDocs.unpersist()
    } finally sh.unpersist()
  }

  private def metaOf(dir: String): Map[String, Int] = {
    IndexDir.requireReady(dir)
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/meta.json"))
    "\"(\\w+)\":(\\d+)".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toInt).toMap
  }

  /** Near-dup pairs `(query_id, corpus_id, jaccard)` of the batch against
    * the indexed corpus, at/above `cfg.jaccardThreshold`. `cfg` must match
    * the index's build config (checked against the meta sidecar — a probe
    * with different band geometry would silently find nothing).
    *
    * `multiProbe` > 0 enables MULTI-PROBE LSH: besides each band's exact
    * bucket, the query also probes the `multiProbe` single-position
    * perturbation buckets with the smallest (2nd-min − min) minhash gap
    * ([[MinHashDedup.multiProbeBandRows]]) — the standard trade of more
    * probes for recall at IDENTICAL index size (an index with fewer bands
    * is smaller; multi-probe buys back the recall those bands provided).
    * The index layout, partition pruning, estimate prune and exact verify
    * are all unchanged; candidates from perturbed buckets still verify
    * exactly, so precision is unaffected.
    */
  def probe(spark: SparkSession, batch: DataFrame, idCol: String,
      shingleHashes: Column, dir: String,
      cfg: MinHashDedup.Config = MinHashDedup.Config(),
      multiProbe: Int = 0): DataFrame = {
    val meta = metaOf(dir)
    require(meta("numHashes") == cfg.numHashes && meta("bands") == cfg.bands,
      s"probe cfg (${cfg.numHashes}/${cfg.bands}) != index meta " +
        s"(${meta("numHashes")}/${meta("bands")})")
    val nParts = meta("nParts")

    val bsh = MinHashDedup.hashed(batch, idCol, shingleHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bsig = MinHashDedup.withSignature(bsh, cfg)
    val k = cfg.numHashes
    val qbSrc =
      if (multiProbe == 0) MinHashDedup.bandRows(bsig, cfg)
      else MinHashDedup.multiProbeBandRows(
        MinHashDedup.withSignature2(bsig, cfg), cfg, multiProbe)
    val qBands = qbSrc.toDF(
      "qid" +: "bk" +: (0 until k).map(i => s"q_s$i"): _*)
      .withColumn("pk", pmod(TextHash.md5Long(col("bk")), lit(nParts)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 1. static partition pruning on the bands dataset (<= nParts values)
    val pks = qBands.select(col("pk")).distinct().collect().map(_.getLong(0))
    val cBands = readLive(spark, dir, "bands")
      .filter(col("pk").isin(pks: _*))
      .toDF("cid" +: "bk" +: (0 until k).map(i => s"c_s$i") :+ "pk": _*)

    // 2. band-key join + estimate prune straight off the carried signatures
    val cand = qBands.join(cBands, "bk")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid") +: col("cid") +:
        ((0 until k).map(i => col(s"q_s$i")) ++ (0 until k).map(i => col(s"c_s$i"))): _*)
      .distinct()
    val matches = (0 until k)
      .map(i => when(col(s"q_s$i") === col(s"c_s$i"), 1).otherwise(0))
      .reduce(_ + _)
    val pruned =
      (if (cfg.estimateCutoff <= 0.0) cand
       else cand.filter(matches.cast("double") / k >= cfg.estimateCutoff))
        .select(col("qid"), col("cid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 3. fetch ONLY candidate shingle sets: prune docs by the candidates'
    //    id buckets (<= nParts values), then exact-Jaccard verify
    val hbs = pruned
      .select(pmod(TextHash.md5Long(col("cid").cast("string")), lit(nParts)).as("hb"))
      .distinct().collect().map(_.getLong(0))
    val cDocs = readLive(spark, dir, "docs")
      .filter(col("hb").isin(hbs: _*))
      .select(col("id").as("cid"), col("hashes").as("h_c"))
    val qDocs = bsh.select(col("id").as("qid"), col("hashes").as("h_q"))
    pruned.join(qDocs, "qid").join(cDocs, "cid")
      .withColumn("inter", size(array_intersect(col("h_q"), col("h_c"))).cast("double"))
      .withColumn("jac", col("inter") / (size(col("h_q")) + size(col("h_c")) - col("inter")))
      .filter(col("jac") >= cfg.jaccardThreshold)
      .select(col("qid").as("query_id"), col("cid").as("corpus_id"),
        round(col("jac"), 3).as("jaccard"))
  }
}
