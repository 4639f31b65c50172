package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Enrichment lookup join (reference op J1).
  *
  * Reference (`/root/reference/ror_scripts/get_ultimate_parent.py:85-88`):
  * every record gets `ultimate_parent = map[id]` from a driver-resident dict —
  * i.e. a map-side (broadcast-style) equi-join where every id resolves by
  * construction.
  *
  * Spark-first: a left equi-join on the id. The rollup side is one row per
  * distinct id — usually far smaller than the record side — so with
  * `hintBroadcast = true` we force a BroadcastHashJoin (zero shuffle of the
  * big side). With `hintBroadcast = false` Catalyst/AQE pick the strategy and
  * automatically degrade to shuffled hash / sort-merge once the rollup side
  * exceeds `spark.sql.autoBroadcastJoinThreshold` — the 100 TB safety valve.
  */
object Enrich {

  /** Append `ultimate_parent` (and `capped` if present in `rollup`) to
    * `records`. `rollup` must be keyed `(id, ultimate_parent[, capped])`.
    *
    * `requireResolved` asserts inside the plan that every record resolved:
    * a row without an `ultimate_parent` fails the first action that
    * computes it, naming the record's id, so the check rides the consumer's
    * own scan (the pipeline's staging write) instead of an extra one.
    */
  def withUltimateParent(
      records: DataFrame,
      rollup: DataFrame,
      idCol: String = "id",
      hintBroadcast: Boolean = true,
      requireResolved: Boolean = false): DataFrame = {
    val right0  = rollup.withColumnRenamed("id", idCol)
    val right   = if (hintBroadcast) broadcast(right0) else right0
    val joined  = records.join(right, Seq(idCol), "left")
    if (!requireResolved) joined
    else {
      // The reference's dict lookup can never miss (ids come from the same
      // scan); a miss here is a broken invariant, not a value to carry.
      val up = col("ultimate_parent")
      joined.withColumn("ultimate_parent", when(up.isNull, raise_error(concat(
        lit("ultimate_parent unresolved for record id="),
        coalesce(col(idCol).cast("string"), lit("null"))))).otherwise(up))
    }
  }
}
