package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parent-edge extraction (reference op T2) and the duplicate-id guard (G3).
  *
  * Reference semantics (`/root/reference/ror_scripts/get_ultimate_parent.py:76-80`):
  *   - default parent is the record itself (self-loop when no parent relationship);
  *   - scan the `relationships` array; entries whose `type` lower-cases to
  *     `"parent"` overwrite the parent — so the LAST matching entry wins;
  *   - a duplicate record id aborts the run before any output, naming the id.
  *
  * Spark-first: the whole extraction is a single `Column` expression built from
  * codegen'd higher-order array functions (`filter` + `element_at(-1)` +
  * `coalesce`) — no UDF, stays inside whole-stage codegen, and the scan feeding
  * it only needs the id + relationships columns (column pruning applies).
  */
object ParentEdges {

  /** `relationships`: `array<struct<..., id: string, type: string>>`.
    * Returns the parent id, self-loop default, last `"parent"`-typed (case-
    * insensitive) entry winning — faithful to get_ultimate_parent.py:76-79.
    */
  def parentIdCol(id: Column, relationships: Column): Column = {
    val parents = filter(relationships, r => lower(r.getField("type")) === lit("parent"))
    // try_element_at: NULL on empty array (ANSI-safe), which coalesce turns
    // into the self-loop default.
    coalesce(try_element_at(parents, lit(-1)).getField("id"), id)
  }

  /** Project a record set down to the `(id, parent)` edge relation. */
  def edges(records: DataFrame, idCol: String = "id", relCol: String = "relationships"): DataFrame =
    records.select(col(idCol).as("id"), parentIdCol(col(idCol), col(relCol)).as("parent"))

  /** Ids occurring more than once: `(id, cnt)`. Empty iff ids are unique.
    * Partial aggregation (map-side combine) makes this one shuffle of the
    * distinct ids only — safe at any scale.
    */
  def duplicateIds(records: DataFrame, idCol: String = "id"): DataFrame =
    records.groupBy(col(idCol).as("id")).agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)

  /** G3 gate: hard abort naming (a sample of) the duplicate ids, before any
    * downstream output — faithful to the reference's
    * `assert ror_id not in id_to_parent` (get_ultimate_parent.py:80).
    *
    * Returns the row count of `records`: the per-id counts the guard needs
    * sum to it, so one aggregate answers both, and a caller that sizes work
    * by the input's rows (the rollup's scope) pays no count of its own. Only
    * a failing guard runs a second query, for the bounded id sample.
    */
  def requireUniqueIds(records: DataFrame, idCol: String = "id", sample: Int = 10): Long = {
    val row = records.groupBy(col(idCol)).agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum(col("cnt")), lit(0L)), count_if(col("cnt") > 1)).head()
    if (row.getLong(1) > 0) {
      val ids = duplicateIds(records, idCol).limit(sample).collect().map(_.get(0)).mkString(", ")
      throw new IllegalStateException(s"Duplicate ID(s): $ids")
    }
    row.getLong(0)
  }
}
