package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class PrefixSumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("distributed prefix sum equals the single-partition window, negatives included") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 5000).map(i => (i.toLong * 3 + rnd.nextInt(2), rnd.nextInt(100).toLong - 20))
      .distinctBy(_._1)
    val df = rows.toDF("k", "v").repartition(13) // scrambled input layout
    val got = PrefixSum.running(df, "k", "v", numParts = 8)
      .select(col("k"), col("cum")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.withColumn("cum",
        sum(col("v")).over(Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("k"), col("cum")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("keeps all original columns and handles a single partition") {
    val df = Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")).toDF("k", "v", "tag")
    val out = PrefixSum.running(df, "k", "v", cumCol = "running", numParts = 1)
      .orderBy("k").collect()
    assert(out.map(_.getAs[Long]("running")).toSeq == Seq(10L, 30L, 60L))
    assert(out.map(_.getAs[String]("tag")).toSeq == Seq("a", "b", "c"))
  }

  private def upTo(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
    f(col("v")).over(Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, 0))

  test("running min and max scans equal the single-partition window folds") {
    val rnd = new scala.util.Random(5)
    val df = (1 to 3000).map(i => (i.toLong, rnd.nextInt(2001).toLong - 1000))
      .toDF("k", "v").repartition(9)
    val got = PrefixSum.runningScans(df, "k",
        Seq(("v", "lo", "min"), ("v", "hi", "max")), numParts = 6)
      .select("k", "lo", "hi").collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = df.select(col("k"), upTo(min(_)).as("lo"), upTo(max(_)).as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("runningMulti: two sums over one shuffle equal two separate windows") {
    val rnd = new scala.util.Random(6)
    val df = (1 to 2000).map(i => (i.toLong * 2, rnd.nextInt(50).toLong, rnd.nextInt(9).toLong - 4))
      .toDF("k", "v", "w").repartition(5)
    val got = PrefixSum.runningMulti(df, "k", Seq("v" -> "cv", "w" -> "cw"), numParts = 7)
      .select("k", "cv", "cw").collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val w = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, 0)
    val want = df.select(col("k"), sum(col("v")).over(w), sum(col("w")).over(w))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("more partitions than rows: empty ranges contribute the identity") {
    val df = Seq((5L, 3L), (1L, 4L), (9L, -2L)).toDF("k", "v")
    val out = PrefixSum.runningScans(df, "k",
        Seq(("v", "s", "sum"), ("v", "lo", "min"), ("v", "hi", "max")), numParts = 40)
      .orderBy("k").select("s", "lo", "hi").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((4L, 4L, 4L), (7L, 3L, 4L), (5L, -2L, 4L)))
  }

  test("duplicate output names and unknown scan kinds are rejected") {
    val df = Seq((1L, 1L)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      PrefixSum.runningScans(df, "k", Seq(("v", "c", "sum"), ("v", "c", "max")))
    }
    intercept[IllegalArgumentException] {
      PrefixSum.runningScans(df, "k", Seq(("v", "c", "avg")))
    }
    intercept[IllegalArgumentException](PrefixSum.runningScans(df, "k", Nil))
  }

  test("NULL values ahead of a range partition's first non-NULL carry the offset, as the window does") {
    // v = k, NULL in the first 10 of every 50 keys: several of the 8 range
    // partitions open with NULLs
    val df = (0L until 400L).map(k => (k, Option.when(k % 50 >= 10)(k)))
      .toDF("k", "v").repartition(5)
    def byKey(out: org.apache.spark.sql.DataFrame) = out.select("k", "s", "lo", "hi").collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    val got = byKey(PrefixSum.runningScans(df, "k",
      Seq(("v", "s", "sum"), ("v", "lo", "min"), ("v", "hi", "max")), numParts = 8))
    val want = byKey(df.select(col("k"), upTo(sum(_)).as("s"), upTo(min(_)).as("lo"),
      upTo(max(_)).as("hi")))
    assert(want(51L) == ((Some(1180L), Some(10L), Some(49L))))
    assert(want(5L) == ((None, None, None)))
    assert(got == want)
  }
}
