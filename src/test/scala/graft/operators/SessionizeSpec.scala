package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SessionizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  private val fixture = Seq(
    // user 1: two sessions (gap 40 min between minute 10 and 50)
    (1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(50), 3.0), (1L, ts(60), 4.0),
    // user 2: one session
    (2L, ts(5), 10.0)
  ).toDF("user_id", "ts", "value")

  test("batch sessionize: gap splits sessions, aggregates per session") {
    val out = Sessionize.batch(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getDouble(5)))
      .toSet
    assert(out == Set(
      (1L, 1L, 2L, 3.0),   // session 1: events at 0,10 → sum 3.0
      (1L, 2L, 2L, 7.0),   // session 2: events at 50,60 → sum 7.0
      (2L, 1L, 1L, 10.0)))
  }

  /** Pure-Scala gap fold: per user, sort by time, open a session whenever
    * the gap to the previous event exceeds `gapUs`. */
  private def refSessions(events: Seq[(Long, Long, Double)], gapUs: Long)
      : Set[(Long, Long, Long, Long, Long, Double)] =
    events.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(_._2)
      val seqs = sorted.indices.scanLeft(0L) { (s, i) =>
        if (i == 0 || sorted(i)._2 - sorted(i - 1)._2 > gapUs) s + 1 else s
      }.tail
      sorted.zip(seqs).groupBy(_._2).map { case (s, xs) =>
        val us = xs.map(_._1._2)
        (u, s, us.min, us.max, xs.size.toLong,
          xs.map(x => math.round(x._1._3 * 100)).sum.toDouble / 100)
      }
    }.toSet

  private def usFrame(events: Seq[(Long, Long, Double)]) =
    events.toDF("user_id", "us", "value")
      .selectExpr("user_id", "timestamp_micros(us) AS ts", "value")

  private def sessions(df: org.apache.spark.sql.DataFrame, gapSeconds: Long = 1800L) =
    Sessionize.batch(df, gapSeconds = gapSeconds).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSet

  test("random events: sessions equal a pure-Scala gap fold") {
    val rnd = new scala.util.Random(19)
    val events = (0 until 400).map { _ =>
      (rnd.nextInt(6).toLong, rnd.nextInt(6 * 3600).toLong * 1000000L, rnd.nextInt(10000) / 100.0)
    }
    assert(sessions(usFrame(events)) == refSessions(events, 1800L * 1000000L))
  }

  test("a gap of exactly gapSeconds continues a session; one microsecond more splits it") {
    val gap = 1800L * 1000000L
    val events = Seq((1L, 0L, 1.0), (1L, gap, 2.0), (1L, 2 * gap + 1, 4.0))
    assert(sessions(usFrame(events)) == Set(
      (1L, 1L, 0L, gap, 2L, 3.0),
      (1L, 2L, 2 * gap + 1, 2 * gap + 1, 1L, 4.0)))
  }

  test("sessions do not depend on input order or partitioning") {
    val rnd = new scala.util.Random(23)
    val events = (0 until 300).map { _ =>
      (rnd.nextInt(4).toLong, rnd.nextInt(4 * 3600).toLong * 1000000L, rnd.nextInt(500) / 100.0)
    }
    val base = sessions(usFrame(events).repartition(1))
    assert(sessions(usFrame(rnd.shuffle(events)).repartition(7)) == base)
    assert(sessions(usFrame(events.reverse).repartition(3)) == base)
  }

  test("column names and the gap are parameters; cents sum exactly") {
    val df = Seq((7L, 0L, 0.1), (7L, 30L, 0.2), (7L, 200L, 0.7))
      .map { case (u, s, v) => (u, s * 1000000L, v) }
      .toDF("uid", "at_us", "amt").selectExpr("uid", "timestamp_micros(at_us) AS at", "amt")
    val out = Sessionize.batch(df, userCol = "uid", tsCol = "at", valueCol = "amt",
        gapSeconds = 60L)
      .collect().map(r => (r.getLong(1), r.getLong(4), r.getDouble(5))).toSet
    // 0.1 + 0.2 as doubles is 0.30000000000000004; the cents sum is exact
    assert(out == Set((1L, 2L, 0.3), (2L, 1L, 0.7)))
  }
}
