package graft

import org.apache.spark.sql.SparkSession

/** What the harness mains (Bench, Verify and the dev tools) share. */
object Harness {

  /** The session every harness main runs on: `local[SPARK_GRAFT_CPUS]`
    * (default 4) with as many shuffle partitions, UTC, parquet nanosecond
    * timestamps read as longs, adaptive execution with partition
    * coalescing, no UI, WARN logging. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
