package graft.operators

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class KCoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Pure-Scala synchronous peel — the reference semantics. */
  private def refPeel(edges: Seq[(Long, Long)], k: Int): (Set[Long], Seq[(Int, Long)]) = {
    val e = edges.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
      .filter(p => p._1 != p._2).toSet
    val adj = e.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var alive = adj.keySet
    val drops = Seq.newBuilder[(Int, Long)]
    var round = 0
    var done = false
    while (!done) {
      round += 1
      val drop = alive.filter(v => (adj(v) & alive).size < k)
      if (drop.isEmpty) done = true
      else { drops += (round -> drop.size.toLong); alive = alive -- drop }
    }
    (alive, drops.result())
  }

  private def sparkPeel(edges: Seq[(Long, Long)], k: Int): (Set[Long], Seq[(Int, Long)]) = {
    val res = KCore.decompose(edges.toDF("src", "dst"), "src", "dst", k)
    (res.core.collect().map(_.getLong(0)).toSet, res.attrition)
  }

  test("random graphs: core set AND attrition curve match the reference") {
    val rng = new Random(777)
    for (trial <- 1 to 5) {
      val n = 10 + rng.nextInt(25)
      val edges = (1 to n * 2).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      for (k <- Seq(2, 3)) {
        val (refCore, refDrops) = refPeel(edges, k)
        val (gotCore, gotDrops) = sparkPeel(edges, k)
        assert(gotCore == refCore, s"trial $trial k=$k core")
        assert(gotDrops == refDrops, s"trial $trial k=$k attrition")
      }
    }
  }

  test("cascade: a chain peels from the ends inward, one layer per round") {
    // path 1-2-3-4-5 at k=2: endpoints die first, then the next layer, ...
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val (core, drops) = sparkPeel(path, 2)
    assert(core.isEmpty)
    assert(drops == Seq(1 -> 2L, 2 -> 2L, 3 -> 1L))
    // K4 is its own 3-core: nothing drops
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val (core4, drops4) = sparkPeel(k4, 3)
    assert(core4 == Set(0L, 1L, 2L, 3L) && drops4.isEmpty)
  }

  test("isolated survivor is dropped (and counted) the round after its last neighbor") {
    // triangle {1,2,3} + pendant 4-1: at k=2 the pendant dies in round 1,
    // the triangle survives; at k=3 everything eventually dies, and node
    // counts per round follow the node-set accounting
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    val (core2, drops2) = sparkPeel(g, 2)
    assert(core2 == Set(1L, 2L, 3L) && drops2 == Seq(1 -> 1L))
    val (core3, drops3) = sparkPeel(g, 3)
    assert(core3.isEmpty && drops3.map(_._2).sum == 4L)
  }

  test("a peel releases every checkpoint it made but its result's") {
    val left = graft.TestJobs.leftPersisted(spark)(Seq(KCore.decompose(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst"),
      "src", "dst", k = 2).core))
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
