package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one way an iterative operator runs its rounds.
  *
  * [[scoped]] is the execution scope: `body` runs with adaptive execution
  * disabled and `spark.sql.shuffle.partitions` pinned to a COUNT-DERIVED
  * value, and both settings are put back exactly as they were afterwards
  * (a key the session never set is unset again, not pinned to its default).
  *
  * Why AQE off: a loop round's one action (the fused
  * checkpoint-materializing convergence count) is split by adaptive
  * execution into one driver-visible job PER SHUFFLE STAGE — ~3-5 driver
  * round-trips per round where static planning pays ONE. Inside these loops
  * adaptive planning has nothing left to decide: join strategies are hinted
  * where they matter, per-round relations are bounded, and the partition
  * count is pinned here. (Measured on q199: 66 jobs → 22, 5.6 → 3.7 s at
  * sf0.1.)
  *
  * Why count-derived partitions: with AQE off, a conf-sized constant
  * (e.g. 32) splits every tiny per-round shuffle into that many
  * scheduling-overhead-only tasks; at scale the configured parallelism is
  * the right cap and binds. ~250k rows per partition keeps partitions big
  * enough that per-task overhead is noise at any scale, and the cap keeps
  * huge inputs at exactly the parallelism the cluster was configured for.
  *
  * The scope affects PLANNING time only — checkpointed RDDs built inside
  * keep their plans; a lazy frame returned from `body` is planned by its
  * consumer under the restored session conf, reading the scope's
  * checkpoints as leaves. Nesting is safe (save/restore is per-scope).
  *
  * Two loop forms run inside that scope. Both release every checkpoint
  * they make but the one they return, plus every invariant the caller
  * hands over:
  *
  * [[fixpoint]] is the convergence loop, for operators that read a count
  * every round: ConnectedComponents, Sssp, KCore, KTruss, the
  * ultimate-parent rollup (`ops/UltimateParent`) and q139's ancestor
  * closure. Each round's state is a LAZY `localCheckpoint`, and
  * the round's only action is a count of the rows matching the caller's
  * `pending` predicate: the count computes every checkpoint partition (so
  * the round is materialized) AND answers the convergence question — one
  * job per round where an eager checkpoint plus a count paid two. The
  * initial state is checkpointed the same way and materializes inside
  * round 1's job. Once a round is materialized its lineage is cut, so the
  * previous round's checkpoint blocks are released at once instead of
  * waiting for garbage collection. Without the per-round checkpoint the
  * plan grows every round and round r re-executes every earlier round
  * (measured 3.0 → 8.6 s at only 4 KCore rounds).
  *
  * A fixpoint plans no broadcast join of its own accord: a broadcast
  * collects its build side to the driver in a job of its own, every round
  * — for a side that never changes (CC's edge list) or a small one (KCore's
  * node set) that is an extra driver round-trip per round, where a
  * shuffled join runs inside the round's one job. Explicit join hints
  * still win (Sssp's).
  *
  * [[rounds]] is the round-budget loop, for operators that run a FIXED
  * number of rounds so a SQL unroll replays them exactly: LabelPropagation
  * and PageRank (both entries). A round reads no count, so it needs no
  * action: each round's state is still a lazy `localCheckpoint` (the plan
  * stays constant-size), but the whole chain executes as stages of ONE
  * final job, the eager checkpoint of the last state. Only then is any
  * state released — releasing a lazy checkpoint before it materializes is
  * unsound, since its blocks are what later rounds read. It bans
  * broadcast joins as a fixpoint does.
  *
  * Hits and Bfs keep loops of their own, which ran faster than on
  * `rounds` (see their scaladocs): Hits checkpoints every half-step
  * eagerly, Bfs counts each level and unions every level at the end.
  */
object PinnedLoop {

  private val RowsPerPartition = 250000L

  /** The scope's partition count for a loop whose largest per-round
    * relation has `rows` rows; RandomWalks clusters its step adjacency by
    * the same rule. */
  private[operators] def nParts(spark: SparkSession, rows: Long): Int = {
    val confParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(confParts, (rows / RowsPerPartition).toInt))
  }

  /** Run `body` under the scope; `rows` is the size of the loop's largest
    * per-round relation (usually the edge set). */
  def scoped[T](spark: SparkSession, rows: Long)(body: => T): T =
    pinned(spark, scopePins(spark, rows))(body)

  private def scopePins(spark: SparkSession, rows: Long): Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> nParts(spark, rows).toString)

  private def loopPins(spark: SparkSession, rows: Long): Seq[(String, String)] =
    scopePins(spark, rows) :+ ("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def pinned[T](spark: SparkSession, pins: Seq[(String, String)])(body: => T): T = {
    val saved = spark.conf.getAll
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally pins.foreach { case (k, _) =>
      saved.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** What a [[fixpoint]] run ends with: the last state (a materialized
    * checkpoint once any round ran) and the `pending` count each round
    * left, in round order. */
  final case class Fixpoint(state: DataFrame, pending: Seq[Long]) {
    def rounds: Int = pending.size
    /** The last round left nothing pending; false when the round cap was
      * reached first (or no round ran). */
    def converged: Boolean = pending.lastOption.contains(0L)
  }

  /** Iterate `step` from `init` until a round leaves no row matching
    * `pending`, or `maxRounds` rounds have run — whichever comes first.
    * Round 1 always runs (when `maxRounds` > 0), so a round over an
    * already settled state must be a no-op. What reaching the cap means is
    * the caller's call ([[Fixpoint.converged]]). `init` is evaluated inside
    * the scope, so its shuffles are planned at the pinned partition count
    * too; `rows` sizes the scope as in [[scoped]]. `invariants` (frames
    * only the rounds read) are released once the loop ends; the returned
    * state is the caller's to release. */
  def fixpoint(spark: SparkSession, rows: Long, pending: Column, maxRounds: Int,
      invariants: Seq[DataFrame] = Nil)(
      init: => DataFrame)(step: DataFrame => DataFrame): Fixpoint =
    pinned(spark, loopPins(spark, rows)) {
      var state = init.localCheckpoint(false)
      var counts = Vector.empty[Long]
      while (counts.size < maxRounds && !counts.lastOption.contains(0L)) {
        val next = step(state).localCheckpoint(false)
        counts :+= next.filter(pending).count()
        release(state)
        state = next
      }
      invariants.foreach(release(_))
      Fixpoint(state, counts)
    }

  /** Run exactly `n` rounds of `step` from `init` and return the last
    * state as an eager checkpoint: the one action of the whole run. Every
    * state and every frame in `invariants` is released once it is written.
    * `rows` sizes the scope as in [[scoped]]; `init` and `step` are
    * planned inside it. */
  def rounds(spark: SparkSession, rows: Long, n: Int, invariants: Seq[DataFrame] = Nil)(
      init: => DataFrame)(step: DataFrame => DataFrame): DataFrame =
    pinned(spark, loopPins(spark, rows)) {
      var states = Vector(init.localCheckpoint(false))
      for (_ <- 1 to n) states :+= step(states.last).localCheckpoint(false)
      val out = states.last.localCheckpoint()
      (invariants ++ states).foreach(release(_))
      out
    }

  /** Drop the blocks of every checkpoint `frame` reads (the frame itself
    * when it is one, or a projection of one). `Dataset.unpersist` only
    * touches the CacheManager, which never holds checkpoint blocks; they
    * belong to the RDD under each checkpoint's `LogicalRDD` leaf. Only for
    * frames whose checkpoints the caller owns: a `LogicalRDD` built from
    * someone else's RDD would be unpersisted too. `blocking` returns only
    * once the blocks are gone; otherwise their removal is just scheduled. */
  def release(frame: DataFrame, blocking: Boolean = false): Unit =
    frame.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking)
      case _ =>
    }
}
