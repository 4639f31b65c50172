package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The min-of-trials race key (integer-portable Efraimidis–Spirakis):
  * parity with a pure-JVM reference, the exact pairwise-win law
  * P(a beats b) = w_a/(w_a+w_b), and clamp semantics. */
class WeightedSampleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Pure-Scala reference: md5(id#j) top-60-bits % mod, min over 1..w. */
  private def refKey(id: String, w: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    (1L to math.max(1L, w)).map { j =>
      d.reset()
      val digest = d.digest(s"$id#$j".getBytes("UTF-8"))
      var v = 0L
      for (i <- 0 until 8) v = (v << 8) | (digest(i) & 0xffL)
      (v >>> 4) % WeightedSample.Mod
    }.min
  }

  test("sampleK equals the pure-Scala reference draw (keys, order, ranks)") {
    val items = (0L until 300L).map(i => (i, 1L + i % 7))
    val df = items.toDF("doc_id", "weight")
    val got = WeightedSample.sampleK(df, "doc_id", "weight", 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(_._3)
    val want = items
      .map { case (id, w) => (id, w, refKey(id.toString, w)) }
      .sortBy { case (id, _, k) => (k, id) }
      .take(25).zipWithIndex
      .map { case ((id, w, _), i) => (id, w, i + 1) }
    assert(got.toSeq == want)
  }

  test("exact pairwise law: a weight-2 item beats a weight-1 item ~2/3 of the time") {
    // deterministic Monte Carlo over the FIXED hash: 4000 disjoint id pairs
    val n = 4000
    val wins = (0 until n).count { i =>
      refKey(s"a$i", 2) < refKey(s"b$i", 1)
    }
    val frac = wins.toDouble / n
    // exact law 2/3; binomial sigma ~ 0.0075, gate at ~4 sigma
    assert(math.abs(frac - 2.0 / 3.0) < 0.03, s"win fraction $frac")
  }

  test("heavier weight stochastically dominates: w=8 vs w=1 wins ~8/9") {
    val n = 4000
    val wins = (0 until n).count(i => refKey(s"a$i", 8) < refKey(s"b$i", 1))
    val frac = wins.toDouble / n
    assert(math.abs(frac - 8.0 / 9.0) < 0.025, s"win fraction $frac")
  }

  test("weights < 1 clamp to one trial on both the expression and reference") {
    val df = Seq(("x", 0L), ("x", -3L), ("x", 1L)).toDF("id", "w")
    val keys = df.select(WeightedSample.raceKey(col("id"), col("w"))).collect().map(_.getLong(0))
    assert(keys.distinct.length == 1)
    assert(keys.head == refKey("x", 1))
  }

  test("key is reproducible across partitionings and equals the expression eval") {
    val items = (0L until 100L).map(i => (i, 1L + i % 4))
    val one = items.toDF("id", "w").repartition(1)
      .select(col("id"), WeightedSample.raceKey(col("id"), col("w")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val many = items.toDF("id", "w").repartition(13)
      .select(col("id"), WeightedSample.raceKey(col("id"), col("w")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == many)
    for ((id, w) <- items) assert(one(id) == refKey(id.toString, w))
  }

  test("k at least the item count returns every item once with ranks 1..n") {
    val items = (0L until 10L).map(i => (i, 1L + i % 3))
    val got = WeightedSample.sampleK(items.toDF("doc_id", "weight"), "doc_id", "weight", 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.map(_._3).sorted.toSeq == (1 to 10))
    assert(got.map(r => (r._1, r._2)).toSet == items.toSet)
  }

  test("the sample does not depend on input order or partitioning") {
    val items = (0L until 400L).map(i => (i, 1L + i % 5))
    def draw(df: org.apache.spark.sql.DataFrame) =
      WeightedSample.sampleK(df, "doc_id", "weight", 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val base = draw(items.toDF("doc_id", "weight").repartition(1))
    assert(draw(items.reverse.toDF("doc_id", "weight").repartition(11)) == base)
    assert(draw(new scala.util.Random(8).shuffle(items).toDF("doc_id", "weight")) == base)
  }

  test("a smaller sample is the rank prefix of a larger one") {
    val df = (0L until 300L).map(i => (i, 1L + (i * 7) % 9)).toDF("doc_id", "weight")
    def ranked(k: Int) = WeightedSample.sampleK(df, "doc_id", "weight", k)
      .collect().map(r => (r.getInt(2), r.getLong(0))).sorted.toSeq
    val big = ranked(30)
    assert(big.map(_._1) == (1 to 30))
    assert(ranked(7) == big.take(7))
  }
}
