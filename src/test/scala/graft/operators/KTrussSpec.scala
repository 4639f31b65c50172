package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class KTrussSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // K5 on nodes 1..5 (every edge has 3 triangles) plus a fragile fringe:
  // a triangle {6,7,8} (support 1 each) and a pendant chain 8-9-10.
  private val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
  private val fringe = Seq((6L, 7L), (6L, 8L), (7L, 8L), (8L, 9L), (9L, 10L))
  private lazy val edges = (k5 ++ fringe).toDF("a", "b")

  test("4-truss keeps exactly the K5; fringe dissolves round by round") {
    val curve = KTruss.attritionCurve(edges, k = 4, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // round 1: 15 edges in, the triangle (support 1) and the chain
    // (support 0) all fail the >= 2 threshold at once
    assert(curve(0) == ((1, 15L, 10L)))
    // already at the fixpoint: K5 edges keep support 3 among themselves
    assert(curve(1) == ((2, 10L, 10L)))
    assert(curve(2) == ((3, 10L, 10L)))
  }

  test("3-truss also keeps the fringe triangle but never the chain") {
    val curve = KTruss.attritionCurve(edges, k = 3, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // support >= 1: K5 (10) + triangle (3) survive; the chain (2) drops
    assert(curve(0) == ((1, 15L, 13L)))
    assert(curve(1) == ((2, 13L, 13L)))
  }

  test("truss property is self-consistent on the real co-purchase fixpoint") {
    // run the q266 configuration at sf0.001 and re-verify the final set:
    // every surviving edge must have >= k-2 common neighbors WITHIN it
    val surv = {
      val e0 = {
        val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        li.as("x").join(li.as("y"), "ok").filter(col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("a"), col("y.pk").as("b"))
          .filter(graft.functions.TextHash.md5Long(
            concat(col("a").cast("string"), lit("_"), col("b").cast("string"))) % 8 === 0)
          .distinct()
      }
      var e = e0.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for (_ <- 1 to 4) {
        val adj = (e.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        e = e.filter { case (a, b) => (adj(a) & adj(b)).size >= 2 }
      }
      e
    }
    val got = KTruss.attritionCurve({
      val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      li.as("x").join(li.as("y"), "ok").filter(col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"))
        .filter(graft.functions.TextHash.md5Long(
          concat(col("a").cast("string"), lit("_"), col("b").cast("string"))) % 8 === 0)
        .distinct()
    }, k = 4, rounds = 4).collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(got(4) == surv.size.toLong,
      "round-4 survivor count must match the pure-Scala peel")
    // and the pure-Scala survivors indeed satisfy the truss property
    val adj = surv.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(surv.forall { case (a, b) => (adj(a) & adj(b)).size >= 2 })
  }

  /** Brute-force peel: per round, keep the edges with >= k-2 common
    * neighbors in the current graph. Returns (round, before, after). */
  private def refCurve(edges: Seq[(Long, Long)], k: Int, rounds: Int): Seq[(Int, Long, Long)] = {
    var cur = edges.toSet
    (1 to rounds).map { r =>
      val nb = cur.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val next = cur.filter { case (a, b) => (nb(a) intersect nb(b)).size >= k - 2 }
      val row = (r, cur.size.toLong, next.size.toLong)
      cur = next
      row
    }
  }

  test("random graphs: every round of the attrition curve equals a brute-force peel") {
    val rnd = new scala.util.Random(71)
    for (k <- Seq(3, 4)) {
      val edges = (1 to 160).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .collect { case (x, y) if x != y => (math.min(x, y), math.max(x, y)) }.distinct
      val curve = KTruss.attritionCurve(edges.toDF("a", "b"), k, rounds = 4)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(curve == refCurve(edges, k, 4), s"k=$k")
    }
  }

  test("k below 3 or a non-positive round count is rejected") {
    intercept[IllegalArgumentException](KTruss.attritionCurve(edges, k = 2, rounds = 1))
    intercept[IllegalArgumentException](KTruss.attritionCurve(edges, k = 4, rounds = 0))
  }

  test("a run leaves no checkpoint behind") {
    val left = graft.TestJobs.leftPersisted(spark) {
      KTruss.attritionCurve(edges, k = 4, rounds = 3).collect()
      Nil
    }
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
