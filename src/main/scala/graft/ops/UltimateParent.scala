package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.PinnedLoop

/** Ultimate-parent resolution (reference ops G1/G2): follow `id → parent`
  * edges to the fixpoint root, per id.
  *
  * Reference semantics (`/root/reference/ror_scripts/get_ultimate_parent.py`):
  *   - `traverse_parents` recurses until `id == parent` (:13-24);
  *   - a process-wide recursion limit of 200 frames (:10) means a chain deeper
  *     than the cap — or any cycle — raises; the reference's handler (:25-39)
  *     returns the ror_id of the FRAME WHERE RECURSION BLEW UP (an arbitrary
  *     ancestor ~200 hops deep, dependent on the interpreter's frame budget),
  *     with a warning surfaced out-of-band. "One bad org shouldn't kill the
  *     pipeline."
  *   - DELIBERATE DEVIATION: this implementation falls back to the STARTING
  *     node itself (`capped = true`) instead of reproducing that deep-frame
  *     return value — the reference's choice is an artifact of CPython's
  *     recursion depth, not a semantic contract, and fallback-to-self is
  *     deterministic across engines and cap settings.
  *
  * Spark-first design — `resolveDistributed` is pointer-jumping (path
  * doubling). State is the relation `(id, anc, dist, settled)`; each round
  * substitutes `anc := anc(anc)` and `dist := dist + dist(anc)` via a
  * single self equi-join, so the frontier depth DOUBLES per round:
  * O(log2 maxDepth) ≈ 8 shuffles total for the reference's cap of 200,
  * regardless of row count — this is the 100 TB scale path. The rounds run
  * on [[graft.operators.PinnedLoop.fixpoint]] (one job per round). Cycle
  * rows never settle and their `dist` doubles past `maxDepth`, reproducing
  * the depth-cap fallback exactly. The specs check it against a
  * driver-collected walk of the reference's in-memory dict
  * (`UltimateParentReference` under `src/test`).
  *
  * Output schema: `(id, ultimate_parent, capped)` — `capped = true` marks the
  * fallback-to-self rows (the reference's RecursionError/Slack-alert path).
  */
object UltimateParent {

  /** Distributed pointer-jumping fixpoint. `edges` must be `(id, parent)` with
    * unique ids (enforce with [[ParentEdges.requireUniqueIds]] first).
    * A parent id absent from `edges` is treated as a terminal root.
    *
    * `rows` is the row count of `edges` when the caller already has it
    * (the G3 guard returns it), which sizes the loop's scope; the initial
    * state is then read from `edges` inside round 1's job. Without it the
    * initial state is checkpointed and counted here first.
    */
  def resolveDistributed(edges: DataFrame, maxDepth: Int = 200, rows: Option[Long] = None): DataFrame = {
    // ceil(log2(maxDepth)) rounds reach any root within the cap; +2 margin
    // lets stragglers' dist overshoot the cap so they classify as capped.
    val maxRounds =
      math.ceil(math.log(math.max(maxDepth, 2).toDouble) / math.log(2.0)).toInt + 2

    val selfRoot = col("id") === col("parent")
    val state0 = edges
      .select(
        col("id"),
        col("parent").as("anc"),
        when(selfRoot, lit(0L)).otherwise(lit(1L)).as("dist"),
        selfRoot.as("settled"))
    val counted = Option.when(rows.isEmpty)(state0.localCheckpoint())
    val init = counted.getOrElse(state0)

    val run = PinnedLoop.fixpoint(edges.sparkSession, rows.getOrElse(init.count()),
        !col("settled") && col("dist") <= maxDepth, maxRounds)(init) { state =>
      val hop = state.select(
        col("id").as("h_id"),
        col("anc").as("h_anc"),
        col("dist").as("h_dist"),
        col("settled").as("h_settled"))
      // `h_settled && h_dist == 0` identifies anc as an original root: roots
      // settle at round 0 with dist 0 and never move. (Testing against the
      // EVOLVING anc would misread a collapsed cycle — e.g. A<->B pointer-
      // jumps to anc(A)=A — as a root, so we test the static root property.)
      val ancIsRoot  = col("h_settled") && col("h_dist") === 0L
      val ancMissing = col("h_id").isNull
      val frozen     = col("settled") || col("dist") > maxDepth
      state
        .join(hop, state("anc") === col("h_id"), "left")
        .select(
          col("id"),
          when(frozen || ancMissing, col("anc")).otherwise(col("h_anc")).as("anc"),
          when(frozen, col("dist"))
            .otherwise(col("dist") + coalesce(col("h_dist"), lit(0L))).as("dist"),
          (frozen || ancMissing || ancIsRoot || col("h_settled")).as("settled"))
    }
    // round 1 has materialized its own state: the sizing checkpoint is spent
    counted.foreach(PinnedLoop.release(_))

    // rows unsettled at the round cap or past maxDepth fall back to self
    val resolved = col("settled") && col("dist") <= maxDepth
    run.state.select(
      col("id"),
      when(resolved, col("anc")).otherwise(col("id")).as("ultimate_parent"),
      (!resolved).as("capped"))
  }
}
