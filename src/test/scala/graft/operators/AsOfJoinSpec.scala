package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("latestPrior: inclusive match, carry-forward, and no-prior nulls") {
    val left = Seq(
      (1L, 5L, "e1"),   // before any right row -> nulls
      (1L, 10L, "e2"),  // equal ts -> inclusive match at 10
      (1L, 25L, "e3"),  // carries forward the ts=20 row, not ts=30
      (2L, 50L, "e4")   // key with no right rows at all
    ).toDF("k", "t", "tag")
    val right = Seq(
      (1L, 10L, 100.0),
      (1L, 20L, 200.0),
      (1L, 30L, 300.0)
    ).toDF("k", "t", "v")

    val out: Map[String, (Option[Long], Option[Double])] =
      AsOfJoin.latestPrior(left, right, "k", "t", "v")
        .select("tag", "asof_ts", "asof_v").collect()
        .map { r =>
          r.getString(0) -> ((
            Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(_.asInstanceOf[Double])))
        }.toMap

    assert(out("e1") == ((None, None)))
    assert(out("e2") == ((Some(10L), Some(100.0))))
    assert(out("e3") == ((Some(20L), Some(200.0))))
    assert(out("e4") == ((None, None)))
  }

  test("latestPriorMerge (custom physical operator) matches the composition on the harness events") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn(
        "ts_us", org.apache.spark.sql.functions.unix_micros(org.apache.spark.sql.functions.col("ts")))
    val errors = ev.filter($"event_type" === "error").select($"event_id", $"user_id", $"ts_us")
    val purchases = ev.filter($"event_type" === "purchase" && $"value".isNotNull)
      .groupBy($"user_id", $"ts_us")
      .agg(org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.max($"value"), 2).as("purchase_value"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "user_id", "ts_us", "asof_ts", "asof_purchase_value")
        .collect().map(_.toSeq).toSet
    val composed = rows(AsOfJoin.latestPrior(errors, purchases, "user_id", "ts_us", "purchase_value"))
    val merged = rows(AsOfJoin.latestPriorMerge(errors, purchases, "user_id", "ts_us", "purchase_value"))
    assert(merged == composed)
    assert(merged.nonEmpty)
  }

  test("latestPriorMerge plans through AsOfJoinExec with exchanges+sorts inserted by Catalyst") {
    val left = Seq((1L, 5L, "a"), (1L, 12L, "b"), (3L, 9L, "c")).toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 1.5), (3L, 20L, 2.5)).toDF("k", "t", "v")
    val df = AsOfJoin.latestPriorMerge(left, right, "k", "t", "v")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoinExec") || plan.contains("AsOfJoin"),
      s"expected the custom exec in:\n$plan")
    val out = df.select("tag", "asof_ts", "asof_v").collect()
      .map(r => r.getString(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(out("a") == ((None, None)))
    assert(out("b") == ((Some(10L), Some(1.5))))
    assert(out("c") == ((None, None)))
  }

  test("latestPriorMerge == latestPrior on randomized inputs (seeded)") {
    val rnd = new scala.util.Random(20260812L)
    for (round <- 1 to 3) {
      val nKeys = 1 + rnd.nextInt(8)
      val left = (1 to 200).map { i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(50).toLong, s"e${round}_$i")
      }.toDF("k", "t", "tag")
      // right unique per (k, t) as the operator contract requires
      val right = (1 to 150).map { _ =>
        (rnd.nextInt(nKeys + 2).toLong, rnd.nextInt(50).toLong, rnd.nextInt(1000) / 10.0)
      }.toDF("k", "t", "v").groupBy($"k", $"t")
        .agg(org.apache.spark.sql.functions.max($"v").as("v"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("tag", "asof_ts", "asof_v").collect().map(_.toSeq).toSet
      val composed = rows(AsOfJoin.latestPrior(left, right, "k", "t", "v"))
      val merged = rows(AsOfJoin.latestPriorMerge(left, right, "k", "t", "v"))
      assert(merged == composed, s"round $round diverged")
    }
  }

  test("latestPriorMerge handles skewed single-key and empty-side partitions") {
    val left = (1L to 500L).map(i => (42L, i, s"e$i")).toDF("k", "t", "tag")
    val right = Seq((42L, 100L, 1.0), (42L, 300L, 3.0), (7L, 1L, 9.9)).toDF("k", "t", "v")
    val out = AsOfJoin.latestPriorMerge(left, right, "k", "t", "v")
      .groupBy($"asof_v").count().collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Double]) -> r.getLong(1)).toMap
    assert(out(None) == 99L)        // t in 1..99: no prior
    assert(out(Some(1.0)) == 200L)  // t in 100..299
    assert(out(Some(3.0)) == 201L)  // t in 300..500
  }

  /** Brute force: per left row, the right row of its key with the largest
    * ts <= the left ts, or None. */
  private def bruteAsOf(left: Seq[(Long, Long, String)], right: Seq[(Long, Long, Double)])
      : Set[(String, Option[Long], Option[Double])] =
    left.map { case (k, t, tag) =>
      val prior = right.filter(r => r._1 == k && r._2 <= t)
      if (prior.isEmpty) (tag, None, None)
      else { val r = prior.maxBy(_._2); (tag, Some(r._2), Some(r._3)) }
    }.toSet

  private def randomSides(seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val left = (1 to 150).map(i => (rnd.nextInt(5).toLong, rnd.nextInt(40).toLong, s"l$i"))
    val right = (1 to 80).map(_ => (rnd.nextInt(6).toLong, rnd.nextInt(40).toLong))
      .distinct.map { case (k, t) => (k, t, rnd.nextInt(1000) / 10.0) }
    (left, right)
  }

  private def asofRows(df: org.apache.spark.sql.DataFrame) =
    df.select("tag", "asof_ts", "asof_v").collect().map { r =>
      (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Double]))
    }.toSet

  test("latestPrior equals a brute-force latest-prior scan (inclusive ties)") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val (left, right) = randomSides(seed)
      val got = asofRows(AsOfJoin.latestPrior(
        left.toDF("k", "t", "tag"), right.toDF("k", "t", "v"), "k", "t", "v"))
      assert(got == bruteAsOf(left, right), s"seed $seed")
    }
  }

  test("latestPriorMerge equals the brute-force scan and keeps every left column") {
    val (left, right) = randomSides(4L)
    val out = AsOfJoin.latestPriorMerge(
      left.toDF("k", "t", "tag"), right.toDF("k", "t", "v"), "k", "t", "v")
    assert(out.columns.toSeq == Seq("k", "t", "tag", "asof_ts", "asof_v"))
    assert(out.count() == left.size.toLong)
    assert(asofRows(out) == bruteAsOf(left, right))
  }
}
