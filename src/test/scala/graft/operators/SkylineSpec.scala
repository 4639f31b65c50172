package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Skyline.frontier2Min == the brute-force O(n²) dominance definition,
  * including duplicates, negative coordinates, and bucket-boundary points. */
class SkylineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def brute(pts: Seq[(Long, Long)]): Map[(Long, Long), Long] = {
    val grouped = pts.groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    grouped.filter { case ((qx, qy), _) =>
      !grouped.keys.exists { case (px, py) =>
        px <= qx && py <= qy && (px < qx || py < qy)
      }
    }
  }

  private def run(pts: Seq[(Long, Long)], width: Long): Map[(Long, Long), Long] =
    Skyline.frontier2Min(pts.toDF("x", "y"), "x", "y", width)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("matches brute force on seeded random points (dups, negatives, ties)") {
    val rnd = new scala.util.Random(42)
    val base = Seq.fill(400)((rnd.nextLong() % 1000, rnd.nextLong() % 1000))
    // force duplicates and exact x/y ties
    val pts = base ++ base.take(30) ++ base.take(10).map { case (x, _) => (x, -999L) }
    for (width <- Seq(1L, 7L, 100L, 1000000L))
      assert(run(pts, width) === brute(pts), s"width=$width")
  }

  test("staircase frontier survives intact; interior points drop") {
    val stairs = Seq((0L, 10L), (1L, 9L), (2L, 8L), (5L, 3L), (9L, 0L))
    val interior = Seq((3L, 9L), (6L, 4L), (9L, 1L), (5L, 10L))
    val got = run(stairs ++ interior ++ stairs, 3L)
    assert(got === stairs.map(p => p -> 2L).toMap)
  }

  test("all-duplicate input: the single point survives with its multiplicity") {
    assert(run(Seq.fill(7)((5L, 5L)), 10L) === Map((5L, 5L) -> 7L))
  }

  test("plan has no nested-loop/cartesian join") {
    val df = Skyline.frontier2Min(
      (1L to 100L).map(i => (i, 100L - i)).toDF("x", "y"), "x", "y", 10L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"skyline must not fall back to an all-pairs join:\n$plan")
  }

  test("the bucket width changes the plan, never the frontier") {
    val rnd = new scala.util.Random(61)
    val pts = (1 to 400).map(_ => (rnd.nextInt(300).toLong - 150, rnd.nextInt(300).toLong - 150))
    val want = brute(pts)
    for (width <- Seq(1L, 7L, 64L, 100000L)) assert(run(pts, width) == want, s"width $width")
  }

  test("maximizing a dimension by negating it gives the (min x, max y) frontier") {
    val rnd = new scala.util.Random(62)
    val pts = (1 to 200).map(_ => (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
    val got = run(pts.map { case (x, y) => (x, -y) }, 10L).map { case ((x, y), n) => (x, -y) -> n }
    val want = pts.groupBy(identity).map { case (p, g) => p -> g.size.toLong }
      .filter { case ((qx, qy), _) =>
        !pts.exists { case (px, py) => px <= qx && py >= qy && (px < qx || py > qy) }
      }
    assert(got == want)
  }

  test("a non-positive bucket width is rejected") {
    intercept[IllegalArgumentException] {
      Skyline.frontier2Min(Seq((1L, 1L)).toDF("x", "y"), "x", "y", 0L)
    }
  }
}
