package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class RangeJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("bucketed containment join equals the naive inequality join") {
    val points = Seq(
      ts("2024-01-15 00:00:00"), ts("2024-02-05 00:00:00"),
      ts("2024-02-10 00:00:00"), ts("2024-03-01 00:00:00"),
      ts("2024-01-01 00:00:00")  // exact interval start: inclusive
    ).map(Tuple1(_)).toDF("pt")
    val intervals = Seq(
      (ts("2024-01-01 00:00:00"), ts("2024-02-10 00:00:00"), "A"), // spans 2 buckets; end exclusive
      (ts("2024-02-01 00:00:00"), ts("2024-03-15 00:00:00"), "B"), // spans 2 buckets
      (ts("2024-05-01 00:00:00"), ts("2024-05-02 00:00:00"), "C")  // matches nothing
    ).toDF("s", "e", "label")

    val bucketed = RangeJoin.pointsInIntervals(points, intervals, "pt", "s", "e")
      .select("pt", "label").collect().map(r => (r.getTimestamp(0), r.getString(1))).toSet
    val naive = points.join(intervals,
        points("pt") >= intervals("s") && points("pt") < intervals("e"))
      .select("pt", "label").collect().map(r => (r.getTimestamp(0), r.getString(1))).toSet

    assert(bucketed == naive)
    assert(bucketed == Set(
      (ts("2024-01-01 00:00:00"), "A"), (ts("2024-01-15 00:00:00"), "A"),
      (ts("2024-02-05 00:00:00"), "A"), // in A via second bucket
      (ts("2024-02-05 00:00:00"), "B"), (ts("2024-02-10 00:00:00"), "B"),
      (ts("2024-03-01 00:00:00"), "B")))
  }

  test("intervalsOverlap == naive inequality join (multi-bucket dedup, touching bounds)") {
    val day = 86400000000L
    // (id, start, end) in us; spans chosen to cross several day buckets
    val left = Seq(
      ("L1", 0L, 3L * day),            // crosses 4 buckets
      ("L2", 5L * day, 5L * day + 10L), // tiny
      ("L3", 10L * day, 11L * day)
    ).toDF("lid", "ls", "le")
    val right = Seq(
      ("R1", 2L * day, 6L * day),       // overlaps L1 (2 shared buckets) and L2
      ("R2", 3L * day + 1L, 4L * day),  // misses L1 by 1 us
      ("R3", 11L * day, 12L * day)      // touches L3 exactly at one point
    ).toDF("rid", "rs", "re")

    val got = RangeJoin.intervalsOverlap(left, right, "ls", "le", "rs", "re", day)
      .select("lid", "rid").as[(String, String)].collect().toSeq
    val naive = left.join(right, col("ls") <= col("re") && col("rs") <= col("le"))
      .select("lid", "rid").as[(String, String)].collect().toSeq
    // sets equal AND no duplicates from multi-bucket matches
    assert(got.sorted === naive.sorted)
    assert(got.distinct.length === got.length)
    assert(got.toSet === Set(("L1", "R1"), ("L2", "R1"), ("L3", "R3")))
  }

  test("intervalsOverlap == naive join on random intervals, each pair once") {
    val rnd = new scala.util.Random(12)
    def side(prefix: String, n: Int) = (1 to n).map { i =>
      val s = rnd.nextInt(1000).toLong; (s"$prefix$i", s, s + rnd.nextInt(120).toLong)
    }
    val left = side("L", 120).toDF("lid", "ls", "le")
    val right = side("R", 90).toDF("rid", "rs", "re")
    for (width <- Seq(7L, 50L, 400L)) {
      val got = RangeJoin.intervalsOverlap(left, right, "ls", "le", "rs", "re", width)
        .select("lid", "rid").as[(String, String)].collect().toSeq
      val naive = left.join(right, col("ls") <= col("re") && col("rs") <= col("le"))
        .select("lid", "rid").as[(String, String)].collect().toSeq
      assert(got.sorted == naive.sorted, s"width $width")
    }
  }

  test("pointsInIntervals == naive containment join over a year of random data") {
    val rnd = new scala.util.Random(13)
    val base = ts("2024-01-01 00:00:00").getTime
    val day = 86400000L
    val points = (1 to 200).map(_ => Tuple1(new Timestamp(base + rnd.nextInt(365) * day + rnd.nextInt(86400) * 1000L)))
      .toDF("pt")
    val intervals = (1 to 40).map { i =>
      val s = base + rnd.nextInt(365) * day
      (new Timestamp(s), new Timestamp(s + (1 + rnd.nextInt(70)) * day), s"I$i")
    }.toDF("s", "e", "label")
    val got = RangeJoin.pointsInIntervals(points, intervals, "pt", "s", "e")
      .select("pt", "label").collect().map(r => (r.getTimestamp(0), r.getString(1))).toSeq
    val naive = points.join(intervals, col("pt") >= col("s") && col("pt") < col("e"))
      .select("pt", "label").collect().map(r => (r.getTimestamp(0), r.getString(1))).toSeq
    assert(got.sortBy(x => (x._1.getTime, x._2)) == naive.sortBy(x => (x._1.getTime, x._2)))
    assert(naive.nonEmpty)
  }

  test("intervalsOverlap rejects a non-positive bucket width") {
    val df = Seq(("a", 0L, 1L)).toDF("id", "s", "e")
    val other = Seq(("b", 0L, 1L)).toDF("id2", "s2", "e2")
    intercept[IllegalArgumentException] {
      RangeJoin.intervalsOverlap(df, other, "s", "e", "s2", "e2", 0L)
    }
  }
}
