package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TestJobs, TestSpark}
import graft.ops.UltimateParent
import graft.queries.RefSurface

/** The loops on [[PinnedLoop.fixpoint]] and [[PinnedLoop.rounds]]: on
  * small graphs with a known round count, each ported operator (a) leaves
  * the session conf exactly as it found it — also when it raises at its
  * round cap — and (b) submits at most one job per round plus a small fixed
  * set-up/consume cost, whatever the number of shuffle stages in a round. */
class PinnedLoopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Fixed jobs outside the rounds: reading the input, the operator's eager
    * input checkpoints and sizing count (run under the session's adaptive
    * planning, so a count can take two jobs), its final join and
    * checkpoint, and the test's own collect. */
  private val setupJobs = 8

  private def path(n: Int) = (0L until n.toLong).map(i => (i, i + 1))

  /** The harness tables q139 reads its hierarchy from: 2 regions, 4 nations,
    * 20 customers. */
  private lazy val hierarchyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("pinned_loop_hierarchy").toString
    Seq(0L, 1L).toDF("r_regionkey").write.parquet(s"$dir/region.parquet")
    (0L until 4L).map(n => (n, n % 2)).toDF("n_nationkey", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    (1L to 20L).map(c => (c, c % 4)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    dir
  }

  /** (operator, rounds it runs on its graph, call + consume). */
  private val cases: Seq[(String, Int, () => Unit)] = Seq(
    // pointer jumping doubles reach per round: the 230-deep chain settles
    // (or freezes past maxDepth 200) after 8 rounds; the 9th finds nothing
    // pending
    ("UltimateParent.resolveDistributed, 230-deep chain", 9, () => {
      val chain = (0 until 230).map(i => s"x$i" -> s"x${i + 1}") :+ ("x230" -> "x230")
      val up = UltimateParent.resolveDistributed(chain.toDF("id", "parent"))
        .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
      assert(up("x0") && !up("x30"), "depth 230 hits the cap, depth 200 resolves")
    }),
    // identity labels + round 1 are fused into the init; label(9) reaches 0
    // after 8 more rounds, and the 9th changes nothing
    ("ConnectedComponents.minLabel, 10-node path", 9, () => {
      val out = ConnectedComponents.minLabel(path(9).toDF("a", "b")).collect()
      assert(out.length == 10 && out.forall(_.getLong(1) == 0L))
    }),
    // unit weights from node 0: round r settles node r, round 5 improves
    // nothing
    ("Sssp.distances, 5-node path", 5, () => {
      val e = path(4).map { case (a, b) => (a, b, 1L) }.toDF("a", "b", "w")
      val d = Sssp.distances(e, "a", "b", "w", Seq(0L).toDF("id"), "id", maxRounds = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(d == (0L to 4L).map(v => v -> v).toMap)
    }),
    // k = 2 peels a path from both ends: drops 2, 2, 1, then an empty round
    ("KCore.decompose, 5-node path", 4, () => {
      val res = KCore.decompose(path(4).toDF("a", "b"), "a", "b", k = 2)
      assert(res.core.collect().isEmpty && res.attrition == Seq(1 -> 2L, 2 -> 2L, 3 -> 1L))
    }),
    // region <- nation <- customer: round 1 adds the depth-2 pairs, round 2
    // adds none
    ("q139_ancestor_closure, 3-level hierarchy", 2, () => {
      val closure = RefSurface.queries("q139_ancestor_closure")(spark, hierarchyDir).count()
      assert(closure == 4 + 2 * 20, "one ancestor per nation, two per customer")
    }),
    // every edge of a path has triangle support 0: round 1 peels the whole
    // graph and the curve is padded without running rounds 2 and 3
    ("KTruss.attritionCurve, 4-node path", 1, () => {
      val curve = KTruss.attritionCurve(path(3).toDF("a", "b"), k = 3, rounds = 3)
        .as[(Int, Long, Long)].collect().toSeq
      assert(curve == Seq((1, 3L, 0L), (2, 0L, 0L), (3, 0L, 0L)))
    }),
    // round-budget operators: the budget, not the data, sets the rounds
    ("LabelPropagation.labels, 6-node path, 3 rounds", 3, () => {
      assert(LabelPropagation.labels(path(5).toDF("a", "b"), "a", "b", rounds = 3)
        .collect().length == 6)
    }),
    // node 1 holds node 0's damped base after round 2
    ("PageRank.ranksMicro, 5-node path, 2 rounds", 2, () => {
      val r = PageRank.ranksMicro(path(4).toDF("a", "b"), "a", "b", iters = 2)
        .as[(Long, Long)].collect().toMap
      assert(r(0L) == 150000L && r(1L) == 277500L && r(4L) == 1000000L)
    }),
    ("PageRank.personalizedMicro, 5-node path seeded at 0, 2 rounds", 2, () => {
      val r = PageRank.personalizedMicro(path(4).toDF("a", "b"), "a", "b",
          Seq(0L).toDF("sid"), iters = 2)
        .as[(Long, Boolean, Long)].collect().map(t => t._1 -> t._3).toMap
      assert(r == Map(0L -> 150000L, 1L -> 127500L, 2L -> 722500L, 3L -> 0L, 4L -> 0L))
    }),
  )

  for ((name, rounds, run) <- cases) {
    test(s"$name: session conf untouched, at most one job per round") {
      hierarchyDir // written before, not inside, the counted call
      val before = spark.conf.getAll
      val jobs = TestJobs.count(spark)(run())
      assert(spark.conf.getAll == before)
      assert(jobs <= rounds + setupJobs, s"$jobs jobs for $rounds rounds")
    }
  }

  test("a loop that raises at its round cap restores the session conf too") {
    val before = spark.conf.getAll
    val cc = intercept[IllegalArgumentException] {
      ConnectedComponents.minLabel(path(9).toDF("a", "b"), maxIter = 1)
    }
    assert(cc.getMessage.contains("did not converge"))
    assert(spark.conf.getAll == before)
    val kc = intercept[IllegalStateException] {
      KCore.decompose(path(4).toDF("a", "b"), "a", "b", k = 2, maxRounds = 1)
    }
    assert(kc.getMessage.contains("did not converge"))
    assert(spark.conf.getAll == before)
  }

  test("fixpoint: per-round pending counts, cap, and only the last round stays cached") {
    val sc = spark.sparkContext
    def countdown(maxRounds: Int) =
      PinnedLoop.fixpoint(spark, 10L, col("n") > 0, maxRounds) {
        spark.range(10).select(col("id").as("n"))
      } { s => s.select(greatest(col("n") - 1, lit(0L)).as("n")) }

    val cachedBefore = sc.getPersistentRDDs.keySet
    var run: PinnedLoop.Fixpoint = null
    val jobs = TestJobs.count(spark) { run = countdown(20) }
    assert(run.pending == (8L to 0L by -1L) && run.rounds == 9 && run.converged)
    assert(jobs == run.rounds, "one job per round, none to set up")
    assert((sc.getPersistentRDDs.keySet -- cachedBefore).size == 1, "earlier rounds released")
    assert(run.state.as[Long].collect().forall(_ == 0L))

    val capped = countdown(3)
    assert(capped.pending == Seq(8L, 7L, 6L) && !capped.converged)
    assert(!countdown(0).converged, "no round run is not convergence")
  }

  test("rounds: n steps in one job, every state and invariant released but the result's") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val inv = spark.range(10).select(col("id").as("k"), (col("id") * 10).as("add"))
      .localCheckpoint()
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = TestJobs.count(spark) {
      out = PinnedLoop.rounds(spark, 10L, n = 4, invariants = Seq(inv)) {
        spark.range(10).select(col("id").as("k"), lit(0L).as("v"))
      } { s => s.join(inv, Seq("k")).select(col("k"), (col("v") + col("add") + 1).as("v")) }
    }
    assert(jobs == 1, "one eager checkpoint runs every round")
    assert((sc.getPersistentRDDs.keySet -- before).size == 1, "only the result stays persisted")
    assert(out.as[(Long, Long)].collect().toMap == (0L until 10L).map(k => k -> 4 * (10 * k + 1)).toMap)
    PinnedLoop.release(out, blocking = true)
  }

  test("rounds with no round returns its init, checkpointed") {
    var ids = Seq.empty[Long]
    val left = TestJobs.leftPersisted(spark) {
      val out = PinnedLoop.rounds(spark, 5L, n = 0)(spark.range(5).toDF("id")) { _ =>
        fail("no step may run")
      }
      ids = out.as[Long].collect().sorted.toSeq
      Seq(out)
    }
    assert(ids == (0L until 5L))
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }

  test("both loop forms plan inside the pins and put the conf back") {
    val before = spark.conf.getAll
    val confParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val rows = 3 * 250000L
    var seen = Seq.empty[Map[String, String]]
    def pins() = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k)).toMap
    PinnedLoop.release(PinnedLoop.rounds(spark, rows, n = 1)(spark.range(3).toDF("n")) { s =>
      seen :+= pins(); s })
    PinnedLoop.release(PinnedLoop.fixpoint(spark, rows, col("n") < 0, maxRounds = 1)(
      spark.range(3).toDF("n")) { s => seen :+= pins(); s }.state)
    val want = Map("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> math.min(confParts, 3).toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    assert(seen == Seq(want, want))
    assert(spark.conf.getAll == before)
  }

  test("nParts: one partition per 250k rows, at least one, capped by the conf") {
    val confParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(PinnedLoop.nParts(spark, 0L) == 1 && PinnedLoop.nParts(spark, 249999L) == 1)
    assert(PinnedLoop.nParts(spark, 500000L) == math.min(confParts, 2))
    assert(PinnedLoop.nParts(spark, 250000L * 100000L) == confParts)
  }

  test("fixpoint releases the invariants it is handed once its loop ends") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val inv = spark.range(4).toDF("n").localCheckpoint()
    val made = sc.getPersistentRDDs.keySet -- before
    val run = PinnedLoop.fixpoint(spark, 4L, col("n") > 0, maxRounds = 10, invariants = Seq(inv)) {
      spark.range(4).toDF("n")
    } { s => s.join(inv, Seq("n")).select(greatest(col("n") - 1, lit(0L)).as("n")) }
    assert(run.converged)
    assert(run.state.as[Long].collect().forall(_ == 0L))
    PinnedLoop.release(run.state)
    assert(made.nonEmpty && (sc.getPersistentRDDs.keySet -- before).isEmpty,
      "the invariant's or a round's blocks stay")
  }

  test("release frees a local checkpoint's blocks; Dataset.unpersist leaves them") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ck = path(200).toDF("a", "b").localCheckpoint()
    val made = sc.getPersistentRDDs.keySet -- before
    assert(made.nonEmpty, "an eager local checkpoint persists its RDD")
    ck.unpersist(blocking = true)
    assert(made.subsetOf(sc.getPersistentRDDs.keySet), "unpersist does not reach checkpoint blocks")
    PinnedLoop.release(ck, blocking = true)
    assert((sc.getPersistentRDDs.keySet intersect made).isEmpty)
  }

  test("release finds a checkpoint under a projection and leaves cached frames alone") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ck = path(100).toDF("a", "b").localCheckpoint()
    val made = sc.getPersistentRDDs.keySet -- before
    val cached = path(50).toDF("a", "b").filter(col("a") > 3).cache()
    try {
      assert(cached.count() == 46L)
      PinnedLoop.release(ck.select((col("a") + 1).as("a1")).filter(col("a1") > 10), blocking = true)
      assert((sc.getPersistentRDDs.keySet intersect made).isEmpty)
      assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      assert(cached.count() == 46L)
    } finally cached.unpersist(blocking = true)
  }
}
