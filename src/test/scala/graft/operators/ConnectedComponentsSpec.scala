package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def labels(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.minLabel(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pair, triangle and chain components each converge to min id") {
    // components: {1,2}, {3,4,5} (triangle), {10,11,12,13} (chain)
    val out = labels(Seq((1L, 2L), (4L, 3L), (3L, 5L), (4L, 5L),
      (11L, 10L), (11L, 12L), (12L, 13L)))
    assert(out == Map(
      1L -> 1L, 2L -> 1L,
      3L -> 3L, 4L -> 3L, 5L -> 3L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("long path needs diameter rounds but still converges") {
    // path 0-1-2-...-9: diameter 9 < default maxIter 20
    val out = labels((0L until 9L).map(i => (i, i + 1)))
    assert(out == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("isolated vertices (no edges) are absent from the labeling") {
    val out = labels(Seq((7L, 8L)))
    assert(out == Map(7L -> 7L, 8L -> 7L))
  }

  test("duplicate and reversed edges are harmless") {
    val out = labels(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)))
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    // pure-Scala union-find ground truth
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) x = parent(x)
      x
    }
    for ((a, b) <- edges; if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => x -> find(x)).toMap
  }

  private def randomEdges(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (1 to m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
  }

  test("contractive matches the reference on random graphs at every scale knob") {
    for (seed <- 1 to 4) {
      val edges = randomEdges(100 + seed, 80, 70)
      val ref = reference(edges)
      // localCap 0 forces multi-level contraction; default takes the
      // single-task path — both must agree with ground truth
      val multi = ConnectedComponents.contractive(edges.toDF("a", "b"), localCap = 1L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val single = ConnectedComponents.contractive(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(multi == ref, s"multi-level seed=$seed")
      assert(single == ref, s"single-task seed=$seed")
    }
  }

  test("contractive handles the large-diameter path without diameter-many levels") {
    val edges = (0L until 999L).map(i => (i, i + 1))
    // localCap forces the distributed contraction path (999 edges > 500)
    val out = ConnectedComponents.contractive(edges.toDF("a", "b"), localCap = 500L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == (0L to 999L).map(_ -> 0L).toMap)
  }

  test("contractive on an empty edge list returns an empty labeling") {
    val out = ConnectedComponents.contractive(
      Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(out.count() == 0)
  }

  test("incremental == full recompute under randomized base/delta splits") {
    val rng = new scala.util.Random(4242)
    for (trial <- 1 to 6) {
      val n = 30 + rng.nextInt(30)
      val edges = (1 to 60).map(_ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)).filter(e => e._1 != e._2)
      // random split: merges within base components, bridges across them,
      // fresh vertices appearing only in the delta — all shapes exercised
      val (base, delta) = edges.partition(_ => rng.nextBoolean())
      val want = labels(edges)
      val baseComp = ConnectedComponents.minLabel(base.toDF("a", "b"))
      val got = ConnectedComponents.incremental(baseComp, delta.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial=$trial base=${base.size} delta=${delta.size}")
      spark.catalog.clearCache() // incremental's library caching contract
    }
  }

  test("incremental: untouched components pass through; empty delta is identity") {
    val base = Seq((1L, 2L), (5L, 6L), (6L, 7L))
    val baseComp = ConnectedComponents.minLabel(base.toDF("a", "b"))
    // delta bridges {1,2} to a fresh vertex 9 and leaves {5,6,7} untouched
    val got = ConnectedComponents.incremental(baseComp, Seq((9L, 2L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L))
    spark.catalog.clearCache()
  }

  test("minLabel releases every checkpoint it made but its result's") {
    val left = graft.TestJobs.leftPersisted(spark)(Seq(ConnectedComponents.minLabel(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("a", "b"))))
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
