package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Integer HITS: hand-computed half-steps on tiny graphs. Max-rescaling
  * keeps every round in exact integers, so the assertions are equalities.
  */
class HitsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hits(edges: Seq[(String, String)], iters: Int): Map[String, (Long, Long)] =
    Hits.hitsMicro(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("star fan-in, 1 round: the hub-pointed center is the sole authority") {
    val h = hits(Seq("a" -> "c", "b" -> "c"), iters = 1)
    // a1(c) = h0(a)+h0(b) = 2e6 → rescaled to 1e6 (it is the max);
    // h1(a) = h1(b) = a1(c) = 1e6 each → both rescale to 1e6.
    assert(h("c") === ((0L, 1000000L))) // no out-edges: hub 0
    assert(h("a") === ((1000000L, 0L))) // no in-edges: authority 0
    assert(h("b") === ((1000000L, 0L)))
  }

  test("unequal in-degrees: authority ratio is preserved by max-rescale") {
    // a,b,c → x ; a → y : in-deg 3 vs 1
    val h = hits(Seq("a" -> "x", "b" -> "x", "c" -> "x", "a" -> "y"), iters = 1)
    // a1 raw: x=3e6, y=1e6; max=3e6 → x=1e6, y=(1e6*1e6) div 3e6 = 333_333
    assert(h("x")._2 === 1000000L)
    assert(h("y")._2 === 333333L)
    // h1 raw: a = a1(x)+a1(y) = 1_333_333; b = c = 1e6; max = 1_333_333
    // a → 1e6; b,c → (1e6*1e6) div 1_333_333 = 750_000
    assert(h("a")._1 === 1000000L)
    assert(h("b")._1 === 750000L)
    assert(h("c")._1 === 750000L)
  }

  test("two rounds converge on the dominant direction of a chain") {
    // a → b → c: after round 1, a hubs into b's authority; b hubs into c.
    val h1 = hits(Seq("a" -> "b", "b" -> "c"), iters = 1)
    // a1 raw: b=1e6, c=1e6 → both 1e6. h1 raw: a=1e6, b=1e6 → both 1e6.
    assert(h1("a") === ((1000000L, 0L)))
    assert(h1("b") === ((1000000L, 1000000L)))
    assert(h1("c") === ((0L, 1000000L)))
    // Round 2 repeats the same sums (scores already 1e6) — fixpoint.
    val h2 = hits(Seq("a" -> "b", "b" -> "c"), iters = 2)
    assert(h2 === h1)
  }

  test("matches the unrolled DuckDB-replay semantics on a mixed graph") {
    // Hand-roll the same half-steps in Scala and compare exactly.
    val edges = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a", "d" -> "c")
    val micro = 1000000L
    def round(h: Map[String, Long]): (Map[String, Long], Map[String, Long]) = {
      val araw = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map(e => h.getOrElse(e._1, 0L)).sum
      }
      val amax = araw.values.max
      val a = araw.map { case (k, v) => k -> (v * micro) / amax }
      val hraw = edges.groupBy(_._1).map { case (src, es) =>
        src -> es.map(e => a.getOrElse(e._2, 0L)).sum
      }
      val hmax = hraw.values.max
      (hraw.map { case (k, v) => k -> (v * micro) / hmax }, a)
    }
    val h0 = Seq("a", "b", "c", "d").map(_ -> micro).toMap
    val (hh1, aa1) = round(h0)
    val (hh2, aa2) = round(hh1)
    val got = hits(edges, iters = 2)
    for (n <- Seq("a", "b", "c", "d")) {
      assert(got(n)._1 === hh2.getOrElse(n, 0L), s"hub($n)")
      assert(got(n)._2 === aa2.getOrElse(n, 0L), s"auth($n)")
    }
  }

  test("a run releases its edge checkpoint and every round's but its result's") {
    val left = graft.TestJobs.leftPersisted(spark)(Seq(Hits.hitsMicro(
      Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a", "d" -> "c").toDF("src", "dst"),
      "src", "dst", iters = 3)))
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
