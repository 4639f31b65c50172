package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The guarded round-robin spread: a skinny source widens to the default
  * parallelism with its rows intact, and one that is already wide enough
  * passes through untouched. */
class SpreadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a single-partition source spreads to the default parallelism with its rows intact") {
    val par = spark.sparkContext.defaultParallelism
    val df = (1 to 100).toDF("x").coalesce(1)
    val out = Spread.rows(df)
    assert(out.rdd.getNumPartitions == par)
    assert(out.as[Int].collect().sorted.toSeq == (1 to 100))
  }

  test("a source already split at least that wide is returned as is") {
    val par = spark.sparkContext.defaultParallelism
    val df = (1 to 100).toDF("x").repartition(par + 1)
    assert(Spread.rows(df) eq df)
  }
}
