package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global running (prefix) sum in a total order — WITHOUT the
  * classic scale-killer `Window.orderBy(k)` with no partition key, which
  * drags every row into ONE task.
  *
  * Classic two-phase distributed scan:
  *   1. `repartitionByRange` on the order key — Spark's RangePartitioner
  *      gives ascending, non-overlapping key ranges per partition id;
  *   2. per-PARTITION window cumsum (parallel across partitions);
  *   3. per-partition totals — at most `numParts` rows — collect to the
  *      driver, prefix-sum them there, broadcast back as each partition's
  *      starting offset.
  *
  * The only global data movement is the range shuffle; the offset relation
  * is O(numParts). Result is row-identical to the single-partition window
  * formulation (proven in PrefixSumSpec), because longs add associatively —
  * this operator is for EXACT integer running sums; float inputs would
  * reorder additions.
  */
object PrefixSum {

  /** Adds `cumCol` = running sum of `valueCol` (inclusive) in ascending
    * `orderCol` order. `orderCol` must be unique (a total order — same
    * requirement the window formulation has for determinism).
    *
    * The result holds a persisted intermediate (see below); callers that
    * keep the session long-lived should `spark.catalog.clearCache()` or
    * unpersist after consuming (Verify/Bench already clear per query). */
  def running(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      cumCol: String = "cum",
      numParts: Int = 32): DataFrame =
    runningMulti(df, orderCol, Seq(valueCol -> cumCol), numParts)

  /** Several running sums over the SAME total order in ONE range shuffle:
    * `cols` is (valueCol → cumCol) per requested sum. The per-partition
    * windows share the one sort, and the totals pass collects all columns
    * in a single ≤ numParts-row aggregate — k prefix sums cost the same
    * data movement as one. */
  def runningMulti(
      df: DataFrame,
      orderCol: String,
      cols: Seq[(String, String)],
      numParts: Int = 32): DataFrame =
    runningScans(df, orderCol,
      cols.map { case (v, c) => (v, c, "sum") }, numParts)

  /** The general distributed prefix SCAN: running `sum`, `min`, or `max`
    * per requested column, all over one range shuffle — any associative
    * combine with an identity fits the same two-phase shape (per-partition
    * window fold + driver prefix-fold of ≤ numParts partition aggregates
    * broadcast back as starting offsets). `cols` is
    * (valueCol, cumCol, kind) with kind ∈ {sum, min, max}. */
  def runningScans(
      df: DataFrame,
      orderCol: String,
      cols: Seq[(String, String, String)],
      numParts: Int = 32): DataFrame = {
    require(cols.nonEmpty && cols.map(_._2).distinct.size == cols.size,
      s"cum column names must be unique: ${cols.map(_._2)}")
    val kinds = cols.map(_._3)
    require(kinds.forall(Set("sum", "min", "max")),
      s"kind must be sum|min|max: $kinds")
    val parted = df.repartitionByRange(numParts, col(orderCol))
      .withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
    // MATERIALIZE the pid-stamped cumsum: the totals pass and the final
    // join would otherwise re-execute repartitionByRange independently,
    // and RangePartitioner's sampled boundaries are not stable across
    // executions — offsets would attach to the wrong partitions
    // (observed: ~2/3 of rows shifted at 5k rows). The totals collect
    // below forces the persist before the join reads it.
    def winFn(kind: String, c: Column): Column = kind match {
      case "sum" => sum(c); case "min" => min(c); case _ => max(c)
    }
    def combine(kind: String, a: Long, b: Long): Long = kind match {
      case "sum" => a + b; case "min" => math.min(a, b); case _ => math.max(a, b)
    }
    val local = cols.zipWithIndex.foldLeft(parted) { case (acc, ((v, _, k), i)) =>
      acc.withColumn(s"__cl$i", winFn(k, col(v)).over(w))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // per-partition totals: tiny (≤ numParts rows) — driver prefix-fold.
    // For sum: sum(value), NOT max(cum_local) — identical for non-negative
    // values, but only sum stays correct when values can be negative.
    // Aggregates skip NULL values (so do the window folds above — the two
    // stay consistent). An offset is NULL while no earlier partition holds
    // a non-NULL value, as the single-partition window's fold is.
    val aggs = cols.zipWithIndex.map { case ((v, _, k), i) =>
      winFn(k, col(v)).as(s"__t$i") }
    val totals = local.groupBy(col("__pid"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        r.getInt(0) -> cols.indices.map(i =>
          Option.when(!r.isNullAt(i + 1))(r.getLong(i + 1)))
      }
      .sortBy(_._1)
    val offsets = {
      val acc = Array.fill[Option[Long]](cols.size)(None)
      totals.map { case (pid, tots) =>
        val off = acc.toSeq
        cols.indices.foreach { i =>
          acc(i) = (acc(i) ++ tots(i)).reduceOption(combine(cols(i)._3, _, _))
        }
        (pid, off)
      }
    }

    val spark = df.sparkSession
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.toSeq.map { case (pid, offs) =>
        org.apache.spark.sql.Row.fromSeq(pid +: offs.map(_.getOrElse(null))) }, 1),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("__pid",
          org.apache.spark.sql.types.IntegerType) +:
        cols.indices.map(i => org.apache.spark.sql.types.StructField(s"__off$i",
          org.apache.spark.sql.types.LongType))))
    val joined = local.join(broadcast(offDf), "__pid")
    val withCums = cols.zipWithIndex.foldLeft(joined) { case (acc, ((_, c, k), i)) =>
      // a NULL side is "nothing folded yet": least/greatest skip NULLs,
      // the sum falls back to whichever side is set
      val (cl, off) = (col(s"__cl$i"), col(s"__off$i"))
      val merged = k match {
        case "sum" => coalesce(cl + off, cl, off)
        case "min" => least(cl, off)
        case _     => greatest(cl, off)
      }
      acc.withColumn(c, merged)
    }
    val drops = Seq("__pid") ++
      cols.indices.flatMap(i => Seq(s"__cl$i", s"__off$i"))
    withCums.drop(drops: _*)
  }
}
