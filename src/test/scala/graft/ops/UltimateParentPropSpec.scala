package graft.ops

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property-style tests over random functional graphs (every node has
  * exactly one out-edge, like the reference's parent map — cycles,
  * self-loops and long chains all arise naturally): the distributed
  * pointer-jump fixpoint must agree with the faithful collected walk on
  * EVERY graph, and resolved roots must be fixpoints. Seeded for
  * reproducibility.
  */
class UltimateParentPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randomGraph(rng: Random): Seq[(String, String)] = {
    val n = 1 + rng.nextInt(40)
    (0 until n).map(i => (s"n$i", s"n${rng.nextInt(n)}"))
  }

  private def resolveBoth(edges: Seq[(String, String)], maxDepth: Int) = {
    val df = edges.toDF("id", "parent")
    val d = UltimateParent.resolveDistributed(df, maxDepth).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    val c = UltimateParentReference.resolveCollected(df, maxDepth).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    (d, c)
  }

  test("distributed == collected on random functional graphs") {
    val rng = new Random(42)
    for (trial <- 1 to 10) {
      val edges = randomGraph(rng)
      val (d, c) = resolveBoth(edges, maxDepth = 200)
      assert(d == c, s"trial $trial edges=$edges")
    }
  }

  test("uncapped results are fixpoints; capped map to self") {
    val rng = new Random(7)
    for (_ <- 1 to 6) {
      val edges = randomGraph(rng)
      val parent = edges.toMap
      val (d, _) = resolveBoth(edges, maxDepth = 200)
      for ((id, (up, capped)) <- d) {
        if (capped) assert(up == id)
        else assert(parent(up) == up, s"$id resolved to non-root $up in $edges")
      }
    }
  }

  test("tight cap: agreement holds even when many chains exceed maxDepth") {
    val rng = new Random(1234)
    for (trial <- 1 to 6) {
      val edges = randomGraph(rng)
      val (d, c) = resolveBoth(edges, maxDepth = 3)
      assert(d == c, s"trial $trial edges=$edges")
    }
  }
}
