package graft.ops

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Fixtures from /root/repo/FIXTURES.md §1 — the reference's own unit tests
  * (test_get_ultimate_parent.py) plus the behaviors it implements but never
  * tests (cycles, depth cap, duplicates, last-parent-wins).
  */
class UltimateParentSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edges(pairs: (String, String)*): DataFrame =
    pairs.toDF("id", "parent")

  private def resultMap(df: DataFrame): Map[String, (String, Boolean)] =
    df.collect().map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap

  private def bothImpls(e: DataFrame, maxDepth: Int = 200): Seq[Map[String, (String, Boolean)]] =
    Seq(
      resultMap(UltimateParent.resolveDistributed(e, maxDepth)),
      resultMap(UltimateParentReference.resolveCollected(e, maxDepth)))

  test("chain + self-root + isolated (reference test_roll_up)") {
    val e = edges("A" -> "B", "B" -> "C", "C" -> "D", "D" -> "D", "E" -> "E")
    for (m <- bothImpls(e)) {
      assert(m == Map(
        "A" -> ("D", false), "B" -> ("D", false), "C" -> ("D", false),
        "D" -> ("D", false), "E" -> ("E", false)))
    }
  }

  test("2-cycle falls back to self with capped flag") {
    val e = edges("A" -> "B", "B" -> "A", "R" -> "R", "X" -> "R")
    for (m <- bothImpls(e)) {
      assert(m("A") == ("A", true))
      assert(m("B") == ("B", true))
      assert(m("R") == ("R", false))
      assert(m("X") == ("R", false))
    }
  }

  test("long cycle falls back to self") {
    val e = edges("A" -> "B", "B" -> "C", "C" -> "A")
    for (m <- bothImpls(e))
      assert(m == Map("A" -> ("A", true), "B" -> ("B", true), "C" -> ("C", true)))
  }

  test("chain deeper than cap falls back to self; shallower resolves") {
    val n = 250
    val chain = (0 until n).map(i => s"x$i" -> s"x${i + 1}") :+ (s"x$n" -> s"x$n")
    val e = edges(chain: _*)
    for (m <- bothImpls(e, maxDepth = 200)) {
      assert(m("x0") == ("x0", true), "depth 250 must hit the cap")
      assert(m(s"x${n - 10}") == (s"x$n", false), "depth 10 resolves")
      assert(m(s"x${n - 200}") == (s"x$n", false), "depth exactly at cap resolves")
      assert(m(s"x${n - 201}") == (s"x${n - 201}", true), "depth cap+1 falls back")
      assert(m(s"x$n") == (s"x$n", false))
    }
  }

  test("dangling parent treated as terminal root") {
    val e = edges("A" -> "GHOST")
    for (m <- Seq(resultMap(UltimateParent.resolveDistributed(e)))) {
      assert(m("A") == ("GHOST", false))
    }
  }

  test("distributed and collected agree on a mixed forest") {
    val e = edges(
      "A" -> "B", "B" -> "C", "C" -> "C",
      "D" -> "C", "E" -> "E",
      "F" -> "G", "G" -> "F",
      "H" -> "A")
    val Seq(d, c) = bothImpls(e)
    assert(d == c)
  }

  test("resolve rollup is idempotent: up(up(x)) == up(x)") {
    val e = edges("A" -> "B", "B" -> "C", "C" -> "C", "D" -> "D", "E" -> "A")
    val up = resultMap(UltimateParent.resolveDistributed(e))
    for ((id, (u, capped)) <- up if !capped)
      assert(up(u)._1 == u, s"root of $id must be a fixpoint")
  }
}
