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
  * [[fixpoint]] is the convergence loop every count-driven operator runs
  * inside that scope. Each round's state is a LAZY `localCheckpoint`, and
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
  * A fixpoint also plans no broadcast join of its own accord: a broadcast
  * collects its build side to the driver in a job of its own, every round
  * — for a side that never changes (CC's edge list) or a small one (KCore's
  * node set) that is an extra driver round-trip per round, where a
  * shuffled join runs inside the round's one job. Explicit join hints
  * still win (Sssp's).
  */
object PinnedLoop {

  private val RowsPerPartition = 250000L

  private def nParts(spark: SparkSession, rows: Long): Int = {
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
    * too; `rows` sizes the scope as in [[scoped]]. */
  def fixpoint(spark: SparkSession, rows: Long, pending: Column, maxRounds: Int)(
      init: => DataFrame)(step: DataFrame => DataFrame): Fixpoint =
    pinned(spark, scopePins(spark, rows) :+ ("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      var state = init.localCheckpoint(false)
      var counts = Vector.empty[Long]
      while (counts.size < maxRounds && !counts.lastOption.contains(0L)) {
        val next = step(state).localCheckpoint(false)
        counts :+= next.filter(pending).count()
        release(state)
        state = next
      }
      Fixpoint(state, counts)
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
