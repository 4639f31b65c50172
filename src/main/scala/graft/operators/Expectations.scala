package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectation suite — the Deequ-style constraint
  * checker every production pipeline runs before promoting a table (the
  * reference's two SQL gates, `ror_dag.py:181,186-189`, are a two-rule
  * instance of exactly this surface; `ops/QualityGates` implements those
  * two verbatim, this operator generalizes the shape to arbitrary suites).
  *
  * Scale design: every ROW-LEVEL rule (not-null, set membership, range,
  * pattern, arbitrary predicate) folds into ONE wide aggregate — a single
  * scan and one map-side-combined reduction REGARDLESS of rule count, never
  * a pass per rule. Uniqueness rules are inherently set-level and each
  * costs one hash aggregation on its key columns (count minus distinct,
  * exact). The result is a tiny per-rule report relation.
  *
  * NULL semantics match SQL: a row where the violation predicate evaluates
  * to NULL (e.g. a pattern rule on a NULL column) is NOT counted — compose
  * with an explicit `notNull` rule to police NULLs, exactly as the oracle's
  * `CASE WHEN ... THEN 1 ELSE 0 END` does.
  */
object Expectations {

  sealed trait Rule { def name: String }

  /** Counts rows where `violatedWhen` is TRUE. */
  final case class RowRule(name: String, violatedWhen: Column) extends Rule

  /** Counts duplicate rows beyond the first per key (n_rows − n_distinct). */
  final case class Unique(name: String, columns: Seq[String]) extends Rule

  def notNull(name: String, column: String): RowRule =
    RowRule(name, col(column).isNull)

  def inSet(name: String, column: String, allowed: Seq[String]): RowRule =
    RowRule(name, !col(column).isin(allowed: _*))

  def inRange(name: String, value: Column, lo: Long, hi: Long): RowRule =
    RowRule(name, !value.between(lo, hi))

  def matches(name: String, column: String, regex: String): RowRule =
    RowRule(name, !col(column).rlike(regex))

  // one scan: count(*) plus one conditional sum per row-level rule, then
  // an unpivot of the single wide row into (rule, violations) per-rule rows
  private def rowReport(df: DataFrame, rowRules: Seq[RowRule]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      rowRules.map(r => sum(when(r.violatedWhen, 1L).otherwise(0L)).as(r.name))
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"),
        explode(map(rowRules.flatMap(r => Seq(lit(r.name), col(r.name))): _*))
          .as(Seq("rule", "violations")))
      .select(col("rule"), col("violations"), col("n_rows"))
      .withColumn("passed", col("violations") === 0L)
  }

  /** Run the suite: one row per rule —
    * (rule, violations, n_rows, passed = violations == 0). */
  def check(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val rowRules = rules.collect { case r: RowRule => r }
    val uniqueRules = rules.collect { case u: Unique => u }
    require(rowRules.nonEmpty || uniqueRules.nonEmpty, "empty rule suite")

    val rowPart =
      if (rowRules.isEmpty) Nil
      else Seq(rowReport(df, rowRules).drop("passed"))

    val uniqueReports = uniqueRules.map { u =>
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct(u.columns.head, u.columns.tail: _*).as("n_distinct"))
        .select(lit(u.name).as("rule"),
          (col("n_rows") - col("n_distinct")).as("violations"), col("n_rows"))
    }

    (rowPart ++ uniqueReports)
      .reduce(_.unionByName(_))
      .withColumn("passed", col("violations") === 0L)
  }

  /** Streaming form: the same row-level report, CUMULATIVE over everything
    * the stream has delivered so far (complete output mode — Spark keeps
    * the running conditional sums as aggregation state, so the monitor
    * costs |rules| counters, not retained rows). Uniqueness rules need
    * per-key state and are rejected here — police duplicates upstream
    * (e.g. `dropDuplicatesWithinWatermark`) and feed this monitor its
    * output. */
  def monitor(stream: DataFrame, rules: Seq[Rule]): DataFrame = {
    val rowRules = rules.collect { case r: RowRule => r }
    require(rowRules.length == rules.length,
      "streaming monitor supports row-level rules only (Unique needs per-key state)")
    require(rowRules.nonEmpty, "empty rule suite")
    rowReport(stream, rowRules)
  }
}
