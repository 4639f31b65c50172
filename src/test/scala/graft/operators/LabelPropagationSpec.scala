package graft.operators

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LabelPropagationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Pure-Scala synchronous LPA with the (count DESC, label ASC) tie rule. */
  private def refLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val e = edges.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
      .filter(p => p._1 != p._2).toSet
    val adj = e.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (v, ws) =>
        val cnt = ws.map(lab).groupBy(identity).view.mapValues(_.size)
        v -> cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lab
  }

  private def sparkLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    LabelPropagation.labels(edges.toDF("src", "dst"), "src", "dst", rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("random graphs: labeling matches the reference round-for-round") {
    val rng = new Random(90210)
    for (trial <- 1 to 5) {
      val n = 10 + rng.nextInt(25)
      val edges = (1 to n * 2).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      for (rounds <- Seq(1, 4)) {
        assert(sparkLpa(edges, rounds) == refLpa(edges, rounds),
          s"trial $trial rounds=$rounds")
      }
    }
  }

  test("two cliques joined by one bridge edge resolve into two communities") {
    val c1 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val c2 = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val lab = sparkLpa(c1 ++ c2 :+ ((4L, 11L)), 4)
    assert(lab.filterKeys(_ <= 4L).values.toSet.size == 1)
    assert(lab.filterKeys(_ >= 11L).values.toSet.size == 1)
    assert(lab(1L) != lab(14L), "bridge must not merge the cliques")
  }

  test("a run releases every round's checkpoint but its result's") {
    val left = graft.TestJobs.leftPersisted(spark)(Seq(LabelPropagation.labels(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 6L)).toDF("src", "dst"),
      "src", "dst", rounds = 10)))
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
