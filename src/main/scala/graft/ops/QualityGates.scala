package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality gates (reference ops A1/A2), with BigQueryCheckOperator
  * semantics: a gate PASSES iff its single-row result is truthy, and a failed
  * gate must block promotion (`/root/reference/ror_dag.py:178-192`).
  *
  * The staging side of both gates is ONE full-table aggregate
  * ([[stagingCounts]]): row count, id count and EXACT `count(distinct id)`
  * (A1 is a correctness gate, `ror_dag.py:181`). Catalyst plans it as
  * partial (map-side) + final HashAggregate with the two-phase distinct
  * expansion — one pass over the data, and the shuffles carry only the
  * distinct ids and one row per partition. A2's production side is a count
  * the caller supplies.
  */
object QualityGates {

  final case class GateResult(name: String, passed: Boolean, detail: String)

  /** What one aggregate over the staging table tells both gates (and the
    * run report): rows, non-null ids and distinct ids. */
  final case class StagingCounts(rows: Long, ids: Long, distinctIds: Long)

  def stagingCounts(df: DataFrame, idCol: String): StagingCounts = {
    val row = df.agg(count(lit(1)), count(col(idCol)), countDistinct(col(idCol))).head()
    StagingCounts(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** A1 (`ror_dag.py:181`): `count(distinct id) = count(id)`. */
  def uniqueIds(c: StagingCounts, idCol: String): GateResult =
    GateResult("unique_ids", c.distinctIds == c.ids,
      s"count(distinct $idCol)=${c.distinctIds} count($idCol)=${c.ids}")

  /** A1 as a declarative single-row plan (for the oracle harness). */
  def uniqueIdsDf(df: DataFrame, idCol: String): DataFrame =
    df.agg((countDistinct(col(idCol)) === count(col(idCol))).as("unique_ok"))

  /** A2 (`ror_dag.py:186-189`): staging row count must be >= production's —
    * guards against a shrinking dataset. */
  def monotonicCount(stagingRows: Long, productionRows: Long): GateResult =
    GateResult("monotonic_count", stagingRows >= productionRows,
      s"staging=$stagingRows production=$productionRows")

  /** A2 as one declarative plan: two scalar aggregates cross-joined (each a
    * partial+final count; the cross join is 1x1 rows). */
  def monotonicCountDf(staging: DataFrame, production: DataFrame): DataFrame =
    staging.agg(count(lit(1)).as("staging_cnt"))
      .crossJoin(production.agg(count(lit(1)).as("production_cnt")))
      .select((col("staging_cnt") >= col("production_cnt")).as("monotonic_ok"))

  /** Run gates in order; throw listing every failure (blocks promotion). */
  def requireAll(gates: Seq[GateResult]): Unit = {
    val failed = gates.filterNot(_.passed)
    if (failed.nonEmpty)
      throw new IllegalStateException(
        "quality gates failed: " + failed.map(g => s"${g.name} [${g.detail}]").mkString("; "))
  }
}
