package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event sessionization: group a user's events into sessions separated by
  * inactivity gaps longer than `gapSeconds`.
  *
  * Batch path: one shuffle (partition by user), then per-partition window
  * math — `lag` to detect gaps, a running sum to number sessions, and a
  * final hash aggregate per (user, session). Timestamps are compared in
  * epoch MICROseconds (`unix_micros`) so sub-second gaps are exact and the
  * arithmetic is integral (portable to any SQL oracle).
  *
  * Skew note at scale: partitioning is by user, so a single pathological
  * user's events land in one task; AQE skew-join/partition splitting does
  * not apply to window functions, so cap per-user event counts upstream or
  * pre-split such users by day before sessionizing.
  */
object Sessionize {

  def batch(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      gapSeconds: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol))
    val gapUs  = gapSeconds * 1000000L
    val us: Column = unix_micros(col(tsCol))
    events
      .withColumn("__prev_us", lag(us, 1).over(byUser))
      .withColumn("__new_sess",
        when(col("__prev_us").isNull || (us - col("__prev_us")) > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("__new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(userCol), col("session_seq"))
      .agg(
        min(us).as("session_start_us"),
        max(us).as("session_end_us"),
        count(lit(1)).as("n_events"),
        // values are 2-decimal: sum EXACT integer cents (order-independent)
        // and divide once — a double sum's accumulation order differs
        // between engines and can flip the last ulp before a round()
        (sum(round(col(valueCol) * 100).cast("long")).cast("double") / 100)
          .as("sum_value"))
  }

  /** DuckDB oracle for [[batch]] — identical gap/numbering logic. */
  def batchOracleSql(
      table: String = "events",
      userCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      gapSeconds: Long = 1800L): String = {
    val gapUs = gapSeconds * 1000000L
    s"""WITH g AS (
       |  SELECT $userCol, epoch_us($tsCol) AS us, $valueCol,
       |    CASE WHEN lag(epoch_us($tsCol)) OVER (PARTITION BY $userCol ORDER BY $tsCol) IS NULL
       |           OR epoch_us($tsCol) - lag(epoch_us($tsCol)) OVER (PARTITION BY $userCol ORDER BY $tsCol) > $gapUs
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM $table),
       |s AS (
       |  SELECT $userCol, us, $valueCol,
       |    sum(new_sess) OVER (PARTITION BY $userCol ORDER BY us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq
       |  FROM g)
       |SELECT $userCol, session_seq, min(us) AS session_start_us, max(us) AS session_end_us,
       |  count(*) AS n_events,
       |  (sum(CAST(round($valueCol * 100) AS BIGINT))::DOUBLE / 100) AS sum_value
       |FROM s GROUP BY $userCol, session_seq""".stripMargin
  }
}
