package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.operators.PinnedLoop
import graft.ops.{Enrich, ParentEdges, UltimateParent}

/** Incremental (streaming) variant of the ingest+enrich stage: watch a
  * directory for newly landed JSONL dump files and run the reference
  * operator chain — edge extraction → rollup fixpoint → enrichment — on
  * each micro-batch via `foreachBatch`, appending to the staging table.
  *
  * `foreachBatch` is the right seam because the rollup is an iterative
  * driver-side loop over plans (not an incremental streaming aggregation):
  * each batch is a self-contained dump slice, resolved against its own
  * graph. Exactly-once delivery comes from the checkpointed source offsets
  * + an idempotent write per batch: each micro-batch OVERWRITES its own
  * `batch_id=<n>` subdirectory, so a batch retried from the checkpoint
  * after a partial write replaces its earlier attempt instead of appending
  * duplicates (plain `Append` would be at-least-once). Readers see
  * `batch_id` as an extra partition column on the staging table.
  */
object StreamingIngest {

  def start(
      spark: SparkSession,
      schema: StructType,
      watchDir: String,
      stagingDir: String,
      checkpointDir: String,
      maxDepth: Int = 200): StreamingQuery = {
    spark.readStream
      .schema(schema)
      .json(watchDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val rows = ParentEdges.requireUniqueIds(batch, "id")
          val rollup = UltimateParent.resolveDistributed(ParentEdges.edges(batch), maxDepth, Some(rows))
          try Enrich.withUltimateParent(batch, rollup.select("id", "ultimate_parent"))
            .write.mode(SaveMode.Overwrite).parquet(s"$stagingDir/batch_id=$batchId")
          finally PinnedLoop.release(rollup)
        }
        ()
      }
      .start()
  }
}
