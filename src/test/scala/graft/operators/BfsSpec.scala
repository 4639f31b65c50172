package graft.operators

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class BfsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Pure-Scala multi-source BFS — the reference semantics. */
  private def refBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
                     maxDepth: Int): Map[Long, Long] = {
    val e = edges.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
      .filter(p => p._1 != p._2).toSet
    val nodes = e.flatMap(p => Seq(p._1, p._2))
    val adj = e.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    var d = 0L
    while (d < maxDepth && frontier.nonEmpty) {
      d += 1
      val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
        .filterNot(dist.contains)
      dist = dist ++ next.map(_ -> d)
      frontier = next
    }
    nodes.map(v => v -> dist.getOrElse(v, -1L)).toMap ++
      dist.view.filterKeys(!nodes.contains(_)).toMap
  }

  private def sparkBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
                       maxDepth: Int): Map[Long, Long] = {
    val res = Bfs.distances(edges.toDF("src", "dst"), "src", "dst",
      seeds.toSeq.toDF("id"), "id", maxDepth)
    res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("random graphs: full distance labeling matches the reference") {
    val rng = new Random(4242)
    for (trial <- 1 to 5) {
      val n = 12 + rng.nextInt(30)
      val edges = (1 to n * 2).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val seeds = (1 to 2).map(_ => rng.nextInt(n).toLong).toSet
      for (depth <- Seq(2, 10)) {
        assert(sparkBfs(edges, seeds, depth) == refBfs(edges, seeds, depth),
          s"trial $trial depth=$depth")
      }
    }
  }

  test("chain: levels advance one hop per round; horizon cap yields -1") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(sparkBfs(path, Set(1L), 10) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L, 6L -> 5L))
    // depth 2: nodes past the horizon report -1, exactly like the oracle unroll
    assert(sparkBfs(path, Set(1L), 2) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> -1L, 5L -> -1L, 6L -> -1L))
  }

  test("multi-source: distance is the min over seeds; components unreached from seeds are -1") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    assert(sparkBfs(g, Set(1L, 4L), 10) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L, 10L -> -1L, 11L -> -1L))
  }

  test("seeds outside the graph settle at 0 and never expand") {
    val g = Seq((1L, 2L))
    assert(sparkBfs(g, Set(99L), 10) == Map(1L -> -1L, 2L -> -1L, 99L -> 0L))
  }

  /** Pure-Scala single-source σ-BFS reference. */
  private def refSigma(edges: Seq[(Long, Long)], s0: Long, maxDepth: Int)
      : Map[Long, (Long, Long)] = {
    val e = edges.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
      .filter(p => p._1 != p._2).toSet
    val nodes = e.flatMap(p => Seq(p._1, p._2))
    val adj = e.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = Map(s0 -> 0L); var sigma = Map(s0 -> 1L)
    var frontier = Set(s0); var d = 0L
    while (d < maxDepth && frontier.nonEmpty) {
      d += 1
      val contrib = frontier.toSeq
        .flatMap(u => adj.getOrElse(u, Seq.empty).map(_ -> sigma(u)))
        .filterNot(p => dist.contains(p._1))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      dist = dist ++ contrib.keys.map(_ -> d)
      sigma = sigma ++ contrib
      frontier = contrib.keySet
    }
    nodes.map(v => v -> (dist.getOrElse(v, -1L), sigma.getOrElse(v, 0L))).toMap
  }

  private def sparkSigma(edges: Seq[(Long, Long)], seeds: Set[Long], maxDepth: Int)
      : Map[(Long, Long), (Long, Long)] = {
    val out = Bfs.pathCounts(edges.toDF("a", "b"), "a", "b",
      seeds.toSeq.toDF("id"), "id", maxDepth)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    out
  }

  test("diamond graph: two shortest paths reach the far corner") {
    // s=1; 1-2, 1-3, 2-4, 3-4: sigma(4) = 2; plus a pendant 4-5: sigma(5) = 2
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val out = sparkSigma(g, Set(1L), 5)
    assert(out((1L, 1L)) == (0L, 1L))
    assert(out((1L, 2L)) == (1L, 1L) && out((1L, 3L)) == (1L, 1L))
    assert(out((1L, 4L)) == (2L, 2L), "two shortest paths merge at the sink")
    assert(out((1L, 5L)) == (3L, 2L), "sigma propagates through the pendant")
  }

  test("sigma counts match the sequential reference on seeded random graphs") {
    val rnd = new Random(11)
    for (trial <- 1 to 3) {
      val edges = (1 to 60).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(p => p._1 != p._2)
      val seeds = Set(0L, 5L)
      val got = sparkSigma(edges, seeds, 4)
      for (s0 <- seeds; (v, (dd, sg)) <- refSigma(edges, s0, 4)) {
        assert(got.get((s0, v)).contains((dd, sg)),
          s"trial=$trial s=$s0 v=$v expected ($dd,$sg) got ${got.get((s0, v))}")
      }
    }
  }

  test("sigma: a horizon-capped node reports (-1, 0); multi-source rows are independent") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val out = sparkSigma(g, Set(1L, 4L), 1)
    assert(out((1L, 3L)) == (-1L, 0L) && out((1L, 4L)) == (-1L, 0L))
    assert(out((4L, 3L)) == (1L, 1L) && out((4L, 1L)) == (-1L, 0L))
  }

  test("pathCounts' distances per source equal distances seeded at that source alone") {
    val rnd = new Random(23)
    val edges = (1 to 50).map(_ => (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      .filter(p => p._1 != p._2)
    val seeds = Set(0L, 7L, 40L)
    val sigma = sparkSigma(edges, seeds, 3)
    for (s0 <- seeds) {
      val mine = sigma.collect { case ((s, v), (d, _)) if s == s0 => v -> d }
      assert(mine == sparkBfs(edges, Set(s0), 3), s"source $s0")
    }
  }

  test("distances and pathCounts release every checkpoint they made but their result's") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (6L, 7L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val left = graft.TestJobs.leftPersisted(spark)(Seq(
      Bfs.distances(edges, "src", "dst", seeds, "id", maxDepth = 5),
      Bfs.pathCounts(edges, "src", "dst", seeds, "id", maxDepth = 5)))
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
