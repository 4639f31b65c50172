package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SkewJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted join equals plain join, including a heavy key and a dangling key") {
    val left = (Seq.fill(500)(("hot", 1)) ++ Seq(("a", 2), ("b", 3), ("nomatch", 4)))
      .toDF("k", "v")
    val right = Seq(("hot", "H"), ("a", "A"), ("b", "B"), ("unused", "U"))
      .toDF("rk", "tag")
    val salted = SkewJoin.saltedJoin(left, right, "k", "rk", saltFactor = 7)
      .select("k", "v", "tag").collect().map(_.toSeq).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val plain = left.join(right, left("k") === right("rk"))
      .select("k", "v", "tag").collect().map(_.toSeq).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(salted == plain)
    assert(plain.values.sum == 502)
  }

  test("salt-unsafe join types are rejected (right rows would be replicated)") {
    val left = Seq(("a", 1)).toDF("k", "v")
    val right = Seq(("a", "A")).toDF("rk", "tag")
    for (jt <- Seq("right", "right_outer", "full", "full_outer", "outer")) {
      val e = intercept[IllegalArgumentException] {
        SkewJoin.saltedJoin(left, right, "k", "rk", 4, jt)
      }
      assert(e.getMessage.contains("saltedJoin"), s"joinType=$jt")
    }
  }

  test("left join type preserved") {
    val left = Seq(("a", 1), ("z", 2)).toDF("k", "v")
    val right = Seq(("a", "A")).toDF("rk", "tag")
    val out = SkewJoin.saltedJoin(left, right, "k", "rk", 4, "left")
      .select("k", "tag").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("a", "A"), ("z", null)))
  }

  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.groupBy(identity).view.mapValues(_.size).toMap

  private def randomSides(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    // a heavy key, a tail of light keys and keys on one side only
    val left = (1 to 400).map { i =>
      (if (rnd.nextInt(3) == 0) "hot" else s"k${rnd.nextInt(30)}", i)
    }.toDF("k", "v")
    val right = (1 to 60).map(i => (s"k${rnd.nextInt(40)}", s"t$i")).toDF("rk", "tag")
      .union(Seq(("hot", "H1"), ("hot", "H2")).toDF("rk", "tag"))
    (left, right)
  }

  test("semi and anti joins equal the plain join on random keys") {
    val (left, right) = randomSides(1)
    for (jt <- Seq("left_semi", "semi", "left_anti", "anti"); salt <- Seq(1, 3, 8)) {
      val salted = SkewJoin.saltedJoin(left, right, "k", "rk", salt, jt)
      assert(salted.columns.toSeq == Seq("k", "v"), s"$jt/$salt")
      assert(multiset(salted) == multiset(left.join(right, left("k") === right("rk"), jt)),
        s"$jt with salt $salt")
    }
  }

  test("duplicate right keys: inner join multiplicities survive every salt factor") {
    val (left, right) = randomSides(2)
    val plain = multiset(left.join(right, left("k") === right("rk")).select("k", "v", "tag"))
    for (salt <- 1 to 6)
      assert(multiset(SkewJoin.saltedJoin(left, right, "k", "rk", salt)
        .select("k", "v", "tag")) == plain, s"salt $salt")
  }

  test("the salt factor must be positive; join type names are case- and underscore-blind") {
    val left = Seq(("a", 1)).toDF("k", "v")
    val right = Seq(("a", "A")).toDF("rk", "tag")
    intercept[IllegalArgumentException](SkewJoin.saltedJoin(left, right, "k", "rk", 0))
    for (jt <- Seq("LEFT_OUTER", "LeftOuter", "INNER", "Left_Anti"))
      SkewJoin.saltedJoin(left, right, "k", "rk", 2, jt).collect()
  }
}
