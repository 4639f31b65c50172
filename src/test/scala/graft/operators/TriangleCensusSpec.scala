package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TriangleCensusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def brute(edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val e = edges.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
      .filter(p => p._1 != p._2).toSet
    val vs = e.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    (for {
      a <- vs; b <- vs if a < b && e((a, b))
      c <- vs if b < c && e((b, c)) && e((a, c))
    } yield (a, b, c)).toSet
  }

  private def census(edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
    TriangleCensus.triangles(edges.toDF("src", "dst"), "src", "dst")
      .collect()
      .map { r =>
        val t = Seq(r.getLong(0), r.getLong(1), r.getLong(2)).sorted
        (t(0), t(1), t(2))
      }.toSet

  test("known small graphs") {
    // K4 has 4 triangles
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    assert(census(k4).size == 4)
    // a 4-cycle has none
    assert(census(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))).isEmpty)
    // duplicate / reversed / self-loop edges don't change the census
    assert(census(Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 3L), (1L, 2L)))
      == Set((1L, 2L, 3L)))
  }

  test("random graphs match brute force (triples, not just counts)") {
    val rng = new Random(4242)
    for (trial <- 1 to 8) {
      val n = 6 + rng.nextInt(20)
      val edges = (1 to (n * 3)).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      assert(census(edges) == brute(edges), s"trial $trial")
    }
  }

  test("a hub star plus one closing edge: orientation handles skew") {
    // hub 0 connected to 1..50, plus edge (1,2): exactly one triangle
    val edges = (1L to 50L).map(i => (0L, i)) :+ (1L, 2L)
    assert(census(edges) == Set((0L, 1L, 2L)))
  }

  test("duplicate, reversed and self-loop edges do not change the census") {
    val rnd = new Random(17)
    val base = (1 to 80).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
    val noisy = base ++ base.map(_.swap) ++ base.take(20) ++ (0L until 20L).map(v => (v, v))
    assert(census(rnd.shuffle(noisy)) == census(base))
    assert(census(base) == brute(base))
  }

  test("each triangle's vertices come ordered by (degree, id)") {
    val rnd = new Random(18)
    val edges = (1 to 120).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val und = edges.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
      .filter(p => p._1 != p._2).distinct
    val deg = und.flatMap(p => Seq(p._1, p._2)).groupBy(identity).view.mapValues(_.size).toMap
    val rows = TriangleCensus.triangles(edges.toDF("src", "dst"), "src", "dst")
      .select("ta", "tb", "tc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.nonEmpty)
    assert(rows.size == rows.distinct.size, "each triangle once")
    def rank(v: Long) = (deg(v), v)
    for ((a, b, c) <- rows) {
      assert(Ordering[(Int, Long)].lt(rank(a), rank(b)) &&
        Ordering[(Int, Long)].lt(rank(b), rank(c)), s"($a, $b, $c)")
    }
  }

  test("columns come out as (ta, tb, tc), so a positional read agrees") {
    // hub 0 (degree 50) closes one triangle with 1 and 2 (degree 2 each)
    val edges = ((1L to 50L).map(i => (0L, i)) :+ (1L, 2L)).toDF("src", "dst")
    val tri = TriangleCensus.triangles(edges, "src", "dst")
    assert(tri.columns.toSeq == Seq("ta", "tb", "tc"))
    assert(tri.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((1L, 2L, 0L)))
  }
}
