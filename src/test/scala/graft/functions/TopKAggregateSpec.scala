package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

class TopKAggregateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("top-k aggregate equals the window row_number formulation") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val viaAgg = li
      .groupBy(col("l_orderkey"))
      .agg(TopKAggregate.topK(col("l_extendedprice"), col("l_linenumber").cast("long"), 2).as("top"))
      .select(col("l_orderkey"), explode(col("top")).as("t"))
      .select(col("l_orderkey"), col("t.score"), col("t.payload"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_linenumber").asc)
    val viaWindow = li
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_linenumber").cast("long"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(viaAgg == viaWindow)
  }

  test("tie-break and small-group behavior") {
    val df = Seq(
      (1L, 5.0, 10L), (1L, 5.0, 7L), (1L, 9.0, 3L), (1L, 1.0, 1L),
      (2L, 4.0, 2L)
    ).toDF("g", "score", "p")
    val out = df.groupBy(col("g"))
      .agg(TopKAggregate.topK(col("score"), col("p"), 2).as("top"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getDouble(0), x.getLong(1))))
      .toMap
    assert(out(1L) == Seq((9.0, 3L), (5.0, 7L))) // tie at 5.0 -> lower payload
    assert(out(2L) == Seq((4.0, 2L)))
  }

  test("a group spread over many partitions equals the pure-Scala top-k") {
    val rnd = new scala.util.Random(44)
    val rows = (1 to 3000).map(i => (rnd.nextInt(6).toLong, rnd.nextInt(400) / 4.0, i.toLong))
    val out = rows.toDF("g", "score", "p").repartition(13)
      .groupBy(col("g")).agg(TopKAggregate.topK(col("score"), col("p"), 5).as("top"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getDouble(0), x.getLong(1))))
      .toMap
    val want = rows.groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3))
      .sortBy { case (s, p) => (-s, p) }.take(5)).toMap
    assert(out == want)
  }

  test("rows with a null score or payload are skipped") {
    val df = Seq[(Long, Option[Double], Option[Long])](
      (1L, Some(2.0), Some(1L)), (1L, None, Some(2L)), (1L, Some(9.0), None),
      (2L, None, Some(5L))
    ).toDF("g", "score", "p")
    val out = df.groupBy(col("g")).agg(TopKAggregate.topK(col("score"), col("p"), 3).as("top"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getDouble(0), x.getLong(1))))
      .toMap
    assert(out == Map(1L -> Seq((2.0, 1L)), 2L -> Seq.empty))
  }
}
