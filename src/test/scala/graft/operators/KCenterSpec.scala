package graft.operators

import org.apache.spark.sql.functions.max
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class KCenterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** pure-Scala greedy replay on micro-quantized vectors. */
  private def refFit(pts: Seq[(Long, Array[Double])], k: Int, seed: Long): Seq[(Int, Long, Long)] = {
    def micro(x: Double): Long = KMeansIVF.roundHalfAway(x * 1e6)
    val m = pts.map { case (id, v) => id -> v.map(micro) }
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val seedV = m.find(_._1 == seed).get._2
    var picks = Vector((0, seed, 0L))
    var dmin = m.filter(_._1 != seed).map { case (id, v) => (id, v, d2(v, seedV)) }
    for (r <- 1 until k) {
      val best = dmin.minBy { case (id, _, d) => (-d, id) }
      picks :+= ((r, best._1, best._3))
      dmin = dmin.filter(_._1 != best._1)
        .map { case (id, v, d) => (id, v, math.min(d, d2(v, best._2))) }
    }
    picks
  }

  test("fit picks one point per planted cluster and matches the pure-Scala replay") {
    // 4 well-separated blobs in 4-dim space, 5 points each
    val rnd = new scala.util.Random(7)
    val blobs = Seq(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0), Array(0.0, 0.0, 0.0, 1.0))
    val pts = for (b <- blobs.indices; i <- 0 until 5) yield {
      val v = blobs(b).map(_ + rnd.nextDouble() * 0.05)
      ((b * 5 + i).toLong, v)
    }
    val df = pts.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")

    val got = KCenter.fit(df, "vec_id", "embedding", k = 6, seedId = 0L)
    assert(got === refFit(pts, 6, 0L))

    // the first 4 picks land in 4 DISTINCT blobs (diversity guarantee)
    val blobsHit = got.take(4).map(_._2 / 5).toSet
    assert(blobsHit.size === 4)

    // attrition: cover_d2 is non-increasing after round 1, and collapses
    // once every blob is covered (round 5/6 picks are within-blob)
    val radii = got.drop(1).map(_._3)
    assert(radii.sliding(2).forall(p => p(0) >= p(1)))
    assert(radii.last < radii.head / 10)
  }

  test("ties break toward the smaller id") {
    // two points equidistant from the seed — the smaller id must win round 1
    val df = Seq(
      (0L, Seq(0.0, 0.0)),
      (7L, Seq(1.0, 0.0)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val got = KCenter.fit(df, "vec_id", "embedding", k = 2, seedId = 0L)
    assert(got(1)._2 === 3L)
    assert(got(1)._3 === 1000000L * 1000000L)
  }

  private def blobPoints(seed: Int): Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(seed)
    for (b <- 0 until 5; i <- 0 until 8) yield {
      val v = Array.tabulate(3)(d => (if (d == b % 3) b.toDouble else 0.0) + rnd.nextDouble() * 0.3)
      ((b * 8 + i).toLong, v)
    }
  }

  test("assign picks each point's nearest center (ties to the earlier round)") {
    val pts = blobPoints(11)
    val df = pts.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val (picks, centers) = KCenter.fitWithVectors(df, "vec_id", "embedding", k = 5, seedId = 3L)
    def micro(x: Double): Long = KMeansIVF.roundHalfAway(x * 1e6)
    def d2(a: Array[Long], b: Array[Long]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val got = KCenter.assign(df, "vec_id", "embedding", centers).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    for ((id, v) <- pts) {
      val ds = centers.map(c => d2(v.map(micro), c)).zipWithIndex.sortBy { case (d, r) => (d, r) }
      assert(got(id) == ((ds(0)._2, ds(0)._1, ds(1)._1)), s"point $id")
    }
    for ((r, id, _) <- picks) assert(got(id)._2 == 0L, s"pick $id of round $r is its own center")
  }

  test("each round's cover_d2 is the covering radius of the picks before it") {
    val pts = blobPoints(12)
    val df = pts.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val (picks, centers) = KCenter.fitWithVectors(df, "vec_id", "embedding", k = 6, seedId = 0L)
    for (r <- 1 until picks.size) {
      val radius = KCenter.assign(df, "vec_id", "embedding", centers.take(r))
        .agg(max("d2")).head().getLong(0)
      assert(picks(r)._3 == radius, s"round $r")
    }
  }

  test("k = 1 returns only the seed; k outside [1, 64] is rejected") {
    val df = blobPoints(13).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    assert(KCenter.fit(df, "vec_id", "embedding", k = 1, seedId = 9L) == Seq((0, 9L, 0L)))
    intercept[IllegalArgumentException](KCenter.fit(df, "vec_id", "embedding", k = 0, seedId = 9L))
    intercept[IllegalArgumentException](KCenter.fit(df, "vec_id", "embedding", k = 65, seedId = 9L))
  }
}
