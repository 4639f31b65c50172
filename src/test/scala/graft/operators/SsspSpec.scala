package graft.operators

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SsspSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Pure-Scala round-synchronous Bellman–Ford relaxing from ALL nodes —
    * the reference semantics the oracle unroll uses; the operator's
    * frontier pruning must match it round-for-round. */
  private def refSssp(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
                      maxRounds: Int): Map[Long, Long] = {
    val e = edges.map { case (x, y, w) => (math.min(x, y), math.max(x, y), w) }
      .filter(t => t._1 != t._2)
      .groupBy(t => (t._1, t._2)).map { case (k, ts) => (k._1, k._2, ts.map(_._3).min) }
    val nodes = e.flatMap(t => Seq(t._1, t._2)).toSet
    val adj = e.toSeq.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to maxRounds) {
      val offers = dist.toSeq.flatMap { case (v, dv) =>
        adj.getOrElse(v, Seq.empty).map { case (w, wt) => w -> (dv + wt) }
      }
      val best = offers.groupBy(_._1).view.mapValues(_.map(_._2).min)
      dist = dist ++ best.map { case (v, nd) =>
        v -> math.min(nd, dist.getOrElse(v, Long.MaxValue))
      }
    }
    nodes.map(v => v -> dist.getOrElse(v, -1L)).toMap ++
      dist.view.filterKeys(!nodes.contains(_)).toMap
  }

  private def sparkSssp(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
                        maxRounds: Int): Map[Long, Long] = {
    val res = Sssp.distances(edges.toDF("src", "dst", "w"), "src", "dst", "w",
      seeds.toSeq.toDF("id"), "id", maxRounds)
    res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("random weighted graphs: frontier-pruned labeling matches all-relax reference") {
    val rng = new Random(7117)
    for (trial <- 1 to 5) {
      val n = 10 + rng.nextInt(25)
      val edges = (1 to n * 2).map(_ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong, 1L + rng.nextInt(9)))
      val seeds = (1 to 2).map(_ => rng.nextInt(n).toLong).toSet
      for (rounds <- Seq(2, 12)) {
        assert(sparkSssp(edges, seeds, rounds) == refSssp(edges, seeds, rounds),
          s"trial $trial rounds=$rounds")
      }
    }
  }

  test("weighted shortcut beats fewer-hop heavy path; duplicate edges keep min weight") {
    // 1 -9-> 3 directly, but 1 -1-> 2 -1-> 3 is cheaper; duplicate (1,3) edges
    val edges = Seq((1L, 3L, 9L), (3L, 1L, 7L), (1L, 2L, 1L), (2L, 3L, 1L))
    assert(sparkSssp(edges, Set(1L), 12) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // with one round only, just the direct (min-weight 7) edge applies
    assert(sparkSssp(edges, Set(1L), 1) == Map(1L -> 0L, 2L -> 1L, 3L -> 7L))
  }

  test("unreachable nodes report -1; out-of-graph seeds keep dist 0") {
    val edges = Seq((1L, 2L, 2L), (3L, 4L, 5L))
    assert(sparkSssp(edges, Set(1L, 99L), 12) ==
      Map(1L -> 0L, 2L -> 2L, 3L -> -1L, 4L -> -1L, 99L -> 0L))
  }

  test("a run releases every checkpoint it made but its result's") {
    val left = graft.TestJobs.leftPersisted(spark)(Seq(Sssp.distances(
      Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L), (5L, 6L, 1L)).toDF("src", "dst", "w"),
      "src", "dst", "w", Seq(1L).toDF("id"), "id", maxRounds = 5)))
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
