package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING ANN QUERY PATH — the serving loop over the persisted
  * similarity indexes: a stream of query vectors (or fingerprints)
  * probes the index per micro-batch, reading only partition-pruned
  * buckets, and hands each batch's results to a sink callback.
  *
  * Probing is STATELESS per batch (the index is the state, on disk), so
  * exactly-once is the checkpoint's problem alone: a replayed batch
  * recomputes identical results (deterministic routing + exact re-rank),
  * and the sink callback decides idempotence exactly as foreachBatch
  * sinks always do. Stream results therefore equal the batch probe of
  * the same queries REGARDLESS of slicing — proven per index family in
  * StreamingProbeSpec.
  *
  * One guard matters operationally: the index must not be REBUILT while
  * a probe stream runs (bucket meaning changes under the reader). Every
  * family is `_ready`-gated per batch — the IVF path re-reads the gated
  * centroid sidecar, the NSW path the gated graph sidecar, and the
  * Hamming/LSH paths check the marker their `write()` revokes before the
  * first overwrite and recreates after meta.json — so a completed
  * rebuild is picked up at the next batch boundary and a mid-rebuild
  * crash window (mixed-generation data trees vs geometry sidecar) is
  * refused instead of served.
  */
object StreamingProbe {

  /** Probe a persisted [[KMeansIVF]] index with a stream of
    * `(idCol, vecCol)` query rows. Each batch emits
    * `(query_id, neighbor_id, rank, cosine)` to `onResults`. */
  def startIvf(
      stream: DataFrame, indexDir: String, idCol: String, vecCol: String,
      k: Int, nprobe: Int, checkpointDir: String,
      onResults: (DataFrame, Long) => Unit): StreamingQuery =
    start(stream, checkpointDir) { (spark, batch, batchId) =>
      onResults(KMeansIVF.indexTopK(
        batch, indexDir, idCol, vecCol, k, nprobe), batchId)
    }

  /** Probe a persisted [[NswGraph]] index (beam routing on the sidecar
    * graph + partition-pruned bucket scans) per micro-batch. */
  def startNsw(
      stream: DataFrame, indexDir: String, idCol: String, vecCol: String,
      k: Int, p: NswGraph.Params, checkpointDir: String,
      onResults: (DataFrame, Long) => Unit): StreamingQuery =
    start(stream, checkpointDir) { (spark, batch, batchId) =>
      onResults(NswGraph.indexSearch(
        batch, indexDir, idCol, vecCol, k, p), batchId)
    }

  /** [[startNsw]] routed through the HIERARCHICAL descent
    * ([[NswGraph.indexSearchHier]]): the super layer re-derives from the
    * `_ready`-gated sidecar each batch (deterministic, nothing extra on
    * disk), so a completed rebuild is picked up at the next batch
    * boundary exactly like the single-layer path. */
  def startNswHier(
      stream: DataFrame, indexDir: String, idCol: String, vecCol: String,
      k: Int, p: NswGraph.Params, hp: NswGraph.HierParams,
      checkpointDir: String,
      onResults: (DataFrame, Long) => Unit): StreamingQuery =
    start(stream, checkpointDir) { (spark, batch, batchId) =>
      onResults(NswGraph.indexSearchHier(
        batch, indexDir, idCol, vecCol, k, p, hp), batchId)
    }

  /** Probe a persisted [[graft.sources.HammingIndex]] with a stream of
    * `(idCol, fpCol)` fingerprints; emits `(query_id, corpus_id,
    * hamming)` near-dup pairs per batch. Unlike
    * `HammingIndex.startDedupStream`, this path only QUERIES — the index
    * is never written, so no marker/claim protocol is needed. */
  def startHamming(
      stream: DataFrame, indexDir: String, idCol: String, fpCol: String,
      maxHamming: Int, checkpointDir: String,
      onResults: (DataFrame, Long) => Unit): StreamingQuery =
    start(stream, checkpointDir, clearCachePerBatch = true) { (spark, batch, batchId) =>
      onResults(graft.sources.HammingIndex.probe(
        spark, batch, idCol, fpCol, indexDir, maxHamming), batchId)
    }

  /** Continuous vector INGEST into a persisted [[KMeansIVF]] index — the
    * write-side dual of [[startIvf]]: each micro-batch appends via
    * [[KMeansIVF.appendIndex]] with `batchId = "s<streamBatchId>"`, so
    * EXACTLY-ONCE rides the `_done` marker's own idempotence — a
    * checkpoint replay of a committed batch writes nothing and returns
    * the ORIGINAL persisted drift verdict verbatim (the at-least-once
    * runner can't flip a rebuild decision). Each batch's
    * [[KMeansIVF.AppendResult]] — the drift gate where it matters most,
    * continuous arrival — is surfaced to `onVerdict`.
    *
    * Compaction: when `compactEvery > 0`, `onCompactionDue(count)` fires
    * on each THRESHOLD CROSSING — the batch whose commit makes the
    * committed-append count a multiple of `compactEvery` — not on every
    * batch past it (a level trigger would re-signal an operator that
    * already compacted into a fresh dir and is waiting to repoint). The
    * stream does NOT compact in place — [[KMeansIVF.compactAppends]]
    * writes a FRESH directory and the caller repoints readers when ready
    * (an in-place swap under a live appender is exactly the crash window
    * compaction-as-replace exists to avoid), so the trigger is surfaced
    * as an operational signal, not an in-stream mutation.
    *
    * Empty micro-batches (shutdown ticks, empty source polls) are
    * skipped — they carry no drift statistic and would fail the
    * positive-count gate. */
  def startIvfAppend(
      stream: DataFrame, indexDir: String, idCol: String, vecCol: String,
      checkpointDir: String,
      onVerdict: (KMeansIVF.AppendResult, Long) => Unit,
      compactEvery: Int = 0,
      onCompactionDue: Long => Unit = _ => ()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val before = graft.sources.IndexDir.dataPaths(indexDir).size - 1
          val v = KMeansIVF.appendIndex(batch, idCol, vecCol, indexDir, s"s$batchId")
          onVerdict(v, batchId)
          if (compactEvery > 0) {
            val committed = graft.sources.IndexDir.dataPaths(indexDir).size - 1
            // fire only when THIS batch advanced the count into a multiple:
            // a crash-replayed crossing batch is a marker no-op (count
            // unchanged) and must not re-signal the same crossing
            if (committed > before && committed % compactEvery == 0)
              onCompactionDue(committed.toLong)
          }
        }
      }
      .start()

  /** [[startIvfAppend]] for the composed IVF+PQ index: per micro-batch
    * [[IvfPq.appendIndex]] (frozen centroids + frozen codebooks), the
    * one-sided quantization-error drift verdict surfaced per batch, the
    * same exactly-once-via-marker and compaction-signal contract. */
  def startIvfPqAppend(
      stream: DataFrame, indexDir: String, idCol: String, vecCol: String,
      checkpointDir: String,
      onVerdict: (IvfPq.AppendResult, Long) => Unit,
      compactEvery: Int = 0,
      onCompactionDue: Long => Unit = _ => ()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val before = graft.sources.IndexDir.dataPaths(indexDir).size - 1
          val v = IvfPq.appendIndex(batch, idCol, vecCol, indexDir, s"s$batchId")
          onVerdict(v, batchId)
          if (compactEvery > 0) {
            val committed = graft.sources.IndexDir.dataPaths(indexDir).size - 1
            // fire only when THIS batch advanced the count into a multiple:
            // a crash-replayed crossing batch is a marker no-op (count
            // unchanged) and must not re-signal the same crossing
            if (committed > before && committed % compactEvery == 0)
              onCompactionDue(committed.toLong)
          }
        }
      }
      .start()

  /** [[startIvfAppend]] for the NSW graph index: per micro-batch
    * [[NswGraph.appendIndex]] (frozen hub attachment), the two-sided
    * attachment-cosine drift verdict surfaced per batch, the same
    * exactly-once-via-marker and compaction-signal contract. */
  def startNswAppend(
      stream: DataFrame, indexDir: String, idCol: String, vecCol: String,
      checkpointDir: String,
      onVerdict: (KMeansIVF.AppendResult, Long) => Unit,
      compactEvery: Int = 0,
      onCompactionDue: Long => Unit = _ => ()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val before = graft.sources.IndexDir.dataPaths(indexDir).size - 1
          val v = NswGraph.appendIndex(batch, idCol, vecCol, indexDir, s"s$batchId")
          onVerdict(v, batchId)
          if (compactEvery > 0) {
            val committed = graft.sources.IndexDir.dataPaths(indexDir).size - 1
            // fire only when THIS batch advanced the count into a multiple:
            // a crash-replayed crossing batch is a marker no-op (count
            // unchanged) and must not re-signal the same crossing
            if (committed > before && committed % compactEvery == 0)
              onCompactionDue(committed.toLong)
          }
        }
      }
      .start()

  private def start(stream: DataFrame, checkpointDir: String,
                    clearCachePerBatch: Boolean = false)(
      body: (SparkSession, DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        body(spark, batch, batchId)
        // only the HAMMING probe persists an intermediate (its batch chunk
        // rows, under the library caching contract); the IVF/NSW paths
        // cache nothing, so they skip the session-wide clearCache — a
        // SERVING loop is likely to share its session, and wiping every
        // unrelated cached frame per micro-batch would be collateral
        // damage the ingest-loop precedent (a dedicated session) never had
        if (clearCachePerBatch) spark.catalog.clearCache()
      }
      .start()
}
