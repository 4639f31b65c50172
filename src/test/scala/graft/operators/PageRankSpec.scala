package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Integer PageRank: hand-computed fixpoints on tiny graphs (the constants
  * are exact, so the assertions are equalities, not tolerances). */
class PageRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ranks(edges: Seq[(String, String)], iters: Int): Map[String, Long] =
    PageRank.ranksMicro(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(String, Long)].collect().toMap

  test("star fan-in, 1 iteration: hub accumulates 3 damped transfers") {
    val r = ranks(Seq("a" -> "h", "b" -> "h", "c" -> "h"), iters = 1)
    // leaf contribution: (1_000_000 * 85) div 100 = 850_000; base = 150_000
    assert(r("h") === 150000L + 3 * 850000L)
    assert(r("a") === 150000L) // no in-edges: base only
    assert(r("b") === 150000L)
  }

  test("out-degree 2 splits the transfer with integer division") {
    val r = ranks(Seq("u" -> "x", "u" -> "y"), iters = 1)
    // (1_000_000 * 85) div (100 * 2) = 425_000
    assert(r("x") === 150000L + 425000L)
    assert(r("y") === 150000L + 425000L)
  }

  test("chain, 2 iterations: second-hop value reflects iter-1 ranks") {
    val r = ranks(Seq("a" -> "b", "b" -> "c"), iters = 2)
    // iter1: a=150_000, b=1_000_000, c=1_000_000
    // iter2: b = 150_000 + (150_000*85) div 100 = 277_500
    //        c = 150_000 + (1_000_000*85) div 100 = 1_000_000
    assert(r("a") === 150000L)
    assert(r("b") === 277500L)
    assert(r("c") === 1000000L)
  }

  test("integer-div truncation is applied per edge (not after the sum)") {
    // rank 1_000_001 → (1_000_001*85) div 100 = 850_000 (85_000_085 // 100),
    // truncation happens before summation: two such edges give 2*850_000+...
    val r1 = ranks(Seq("a" -> "m", "m" -> "z"), iters = 2)
    // iter1: m = 1_000_000 ... use a case where iter-1 rank is not a multiple
    // of 100: m after iter1 = 150_000 + 850_000 = 1_000_000 (multiple). Build
    // odd rank via split: u -> {m, m2} gives iter-1 m = 150_000 + 425_000 =
    // 575_000; iter-2 transfer m -> z = (575_000*85) div 100 = 488_750,
    // while m itself decays to 150_000 + (150_000*85) div 200 = 213_750.
    val r = ranks(Seq("u" -> "m", "u" -> "m2", "m" -> "z"), iters = 2)
    assert(r("m") === 150000L + (150000L * 85) / 200)
    assert(r("z") === 150000L + (575000L * 85) / 100)
    assert(r1("z") === 1000000L)
  }

  test("deterministic across runs (exact integer fixpoint)") {
    val edges = (1 to 40).map(i => (s"n$i", s"n${i % 7}"))
    assert(ranks(edges, 3) === ranks(edges, 3))
  }

  private def ppr(edges: Seq[(String, String)], seeds: Seq[String],
                  iters: Int): Map[String, (Boolean, Long)] =
    PageRank.personalizedMicro(edges.toDF("src", "dst"), "src", "dst",
        seeds.toDF("sid"), iters)
      .as[(String, Boolean, Long)].collect()
      .map { case (id, f, r) => id -> (f, r) }.toMap

  test("personalized: restart mass flows only from the seed") {
    // a -> b -> c chain, seed {a}: non-seeds get no base, only walk mass
    val r = ppr(Seq("a" -> "b", "b" -> "c"), Seq("a"), iters = 2)
    assert(r("a") === (true, 150000L)) // base only; nothing points at a
    // iter1: b = 0 + (1_000_000*85) div 100 = 850_000 (r0(a) = Micro)
    // iter2: b = 0 + (150_000*85) div 100 = 127_500 (r1(a) = base)
    assert(r("b") === (false, 127500L))
    // iter2: c = 0 + (850_000*85) div 100 = 722_500
    assert(r("c") === (false, 722500L))
  }

  test("personalized: non-graph seeds are inert; all-seed == uniform") {
    val edges = Seq("a" -> "b", "b" -> "a")
    val withGhost = ppr(edges, Seq("a", "b", "ghost"), iters = 3)
    assert(!withGhost.contains("ghost"))
    val uniform = ranks(edges, iters = 3)
    assert(withGhost.map { case (k, (_, r)) => k -> r } === uniform)
  }

  test("both entries release their invariants and every round but their result's") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d").toDF("src", "dst")
    val left = graft.TestJobs.leftPersisted(spark)(Seq(
      PageRank.ranksMicro(edges, "src", "dst", iters = 3),
      PageRank.personalizedMicro(edges, "src", "dst", Seq("a").toDF("sid"), iters = 3)))
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
