package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by synchronous peeling: repeatedly remove every
  * node whose degree among SURVIVORS is < k; the fixpoint is the k-core
  * (the maximal subgraph of minimum degree ≥ k) — the standard density
  * filter before community/cohesion analytics.
  *
  * The peel is ORDER-FREE: each round's drop set is uniquely determined
  * by the previous round's survivor set, so the attrition curve
  * (round → nodes dropped) is deterministic and oracle-checkable, not
  * just the final core. Accounting is NODE-set based — a survivor whose
  * last neighbor died still exists with degree 0 and is dropped (and
  * counted) in the NEXT round, exactly like the unrolled SQL replay.
  *
  * Scale shape per round: one degree aggregate over surviving edges + two
  * semi-joins restricting the edge set — all key-partitioned shuffles,
  * O(diameter-like) round count (each round strictly shrinks the node
  * set, so ≤ |V| rounds; in practice a handful). The rounds run on
  * [[PinnedLoop.fixpoint]]; exceeding `maxRounds` fails loudly rather than
  * returning a half-peeled graph.
  */
object KCore {

  final case class Result(core: DataFrame, attrition: Seq[(Int, Long)])

  /** `edges(src, dst)`: undirected simple graph (either direction,
    * self-loops ignored). Returns the k-core node set and the per-round
    * drop counts (1-based rounds, only rounds that dropped > 0 nodes). */
  def decompose(edges: DataFrame, src: String, dst: String, k: Int,
                maxRounds: Int = 200): Result = {
    val e0 = edges
      .select(least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    // state: the round's node set, each node flagged with whether it drops
    // this round — so the pending count IS the round's attrition
    val run = PinnedLoop.fixpoint(e0.sparkSession, e0.count(), col("drop"), maxRounds,
        invariants = Seq(e0)) {
      e0.select(explode(array(col("a"), col("b"))).as("v")).distinct()
        .withColumn("drop", lit(false))
    } { nodes =>
      val alive = nodes.filter(!col("drop")).select(col("v"))
      // surviving edges = the FIXED checkpointed edge set restricted by
      // the current node set (two semi-joins) — re-restricting e0 each
      // round is cheaper than maintaining a shrinking edge relation,
      // whose per-round localCheckpoint materialization costs a job
      val e = e0
        .join(alive.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(alive.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
      // degree among survivors, 0 for isolated survivors (left join keeps
      // them — they must be dropped AND counted, like the SQL replay)
      val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      alive.join(deg, Seq("v"), "left")
        .select(col("v"), (coalesce(col("deg"), lit(0L)) < k).as("drop"))
    }
    if (!run.converged) throw new IllegalStateException(
      s"k-core peel did not converge within $maxRounds rounds — " +
        "raise maxRounds or check the graph for pathological structure")
    val attrition = run.pending.zipWithIndex.collect {
      case (dropped, i) if dropped > 0 => (i + 1) -> dropped
    }
    Result(run.state.filter(!col("drop")).select(col("v")), attrition)
  }
}
