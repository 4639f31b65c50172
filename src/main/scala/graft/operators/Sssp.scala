package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source single-source-shortest-paths over integer edge weights —
  * synchronous Bellman–Ford with FRONTIER pruning, the weighted complement
  * of [[Bfs]] (hop counts) for routing-cost, influence-decay and
  * weighted-radius features.
  *
  * Per round, candidates are generated ONLY from the frontier (nodes whose
  * distance improved last round), not the whole settled relation. This is
  * lossless: a non-frontier node u has dist_r(u) = dist_{r-1}(u), so the
  * offer dist_r(u)+w(u,v) was already made — and absorbed into dist(v) —
  * one round earlier. Each round is therefore one key-partitioned join of
  * the frontier boundary against the fixed checkpointed adjacency, a
  * min-combine, and a full-outer merge into the distance relation: work
  * proportional to the improving boundary, exactly like Bfs, while the
  * unrolled oracle can relax from ALL nodes each round and still match
  * round-for-round.
  *
  * Distances within <= maxRounds relaxations are exact (Bellman–Ford
  * invariant); nodes beyond the horizon report -1, keeping the Spark
  * fixpoint (which may stop early once the frontier drains) aligned with a
  * fixed-depth SQL unroll — identical to the [[Bfs]] contract. The rounds
  * run on [[PinnedLoop.fixpoint]].
  *
  * PARTITIONING: everything the loop joins is hash-clustered on v at one
  * pinned, count-derived partition count — the adjacency once up front
  * (unsorted; it only ever streams through the shuffled-hash frontier
  * join), and the distance relation across rounds via
  * [[graft.plans.AssumeHashClustered]] over the forced sort-merge
  * full-outer merge (whose output is physically clustered AND v-sorted
  * but declared Unknown). Per round the only exchange is the candidate
  * aggregation; neither the O(E) adjacency nor the O(V) distance relation
  * ever re-shuffles, and the distance side never re-sorts.
  */
object Sssp {

  /** `edges(src, dst, weight)`: undirected simple graph with positive
    * integer weights (either orientation; on duplicate edges the minimum
    * weight wins; self-loops ignored). `sources(idCol)`: seed set, dist 0.
    * Returns `(v, dist)` for every graph node, dist = -1 if unreachable
    * within maxRounds relaxation rounds. */
  def distances(edges: DataFrame, src: String, dst: String, weight: String,
                sources: DataFrame, idCol: String, maxRounds: Int): DataFrame = {
    val spark = edges.sparkSession
    // PinnedLoop scope (see its scaladoc): AQE off — every decision in
    // this loop is already pinned (merge/shuffle_hash hints + the
    // clustering assertion, which AssumeHashClusteredSpec proves under
    // static planning) — plus a count-derived partition count shared by
    // every loop exchange, so the candidate aggregation always matches
    // the carried clustering (a mismatch would make EnsureRequirements
    // re-shuffle the O(V) distance side every round). The adjacency and
    // the final join are planned in the same scope as the rounds.
    val rows = edges.count()
    PinnedLoop.scoped(spark, rows) {
      // Pin the loop's partition count: every relation the rounds join is
      // clustered on v at this SAME count, so EnsureRequirements recognizes
      // co-partitioning.
      val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val e0 = edges
        .select(least(col(src), col(dst)).as("a"),
          greatest(col(src), col(dst)).as("b"), col(weight).as("wt"))
        .filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(min(col("wt")).as("wt"))
      // Hash-cluster the adjacency ON v ONCE (localCheckpoint carries the
      // partitioning), so every round's adj ⋈ frontier runs with ZERO
      // exchange on the O(E) side. Deliberately NOT sorted: the frontier
      // join is forced shuffled-hash with the (bounded, improving-boundary)
      // frontier as build side, so the adjacency is only ever STREAMED —
      // a sorted adjacency would buy nothing and cost a full O(E log E)
      // sort up front. Without the repartition, each round re-shuffled O(E).
      val adj = e0.select(col("a").as("v"), col("b").as("w"), col("wt"))
        .unionAll(e0.select(col("b").as("v"), col("a").as("w"), col("wt")))
        .repartition(nParts, col("v"))
        .localCheckpoint()
      val allNodes = adj.select(col("v")).distinct().localCheckpoint()

      // state: the distance relation, hash-clustered and sorted on v, with
      // the rows whose distance improved last round flagged — the frontier
      val run = PinnedLoop.fixpoint(spark, rows, col("improved"), maxRounds) {
        sources.select(col(idCol).as("v")).distinct()
          .select(col("v"), lit(0L).as("dist"), lit(true).as("improved"))
          .repartition(nParts, col("v")).sortWithinPartitions("v")
      } { state =>
        val dist = state.select(col("v"), col("dist"))
        val frontier = state.filter(col("improved")).select(col("v"), col("dist"))
        // shuffled-hash, frontier as build side: both sides are already
        // hash(v)-clustered at nParts (zero exchange), the frontier hash
        // table is bounded by the improving boundary, and the adjacency
        // streams through unsorted — a sort-merge here would re-sort O(E)
        // every round
        val cand = adj.join(frontier.hint("shuffle_hash"), Seq("v"))
          .select(col("w").as("v"), (col("dist") + col("wt")).as("nd"))
          .groupBy(col("v")).agg(min(col("nd")).as("nd"))
        // The round merge: dist arrives hash-clustered on v AND v-sorted
        // from the previous round's checkpoint, so the forced sort-merge
        // full-outer join exchanges and sorts ONLY the candidate side —
        // nothing O(V) moves per round. The MERGE hint is load-bearing: a
        // broadcast full-outer join would not leave unmatched build rows
        // clustered, which the partitioning assertion below relies on. The
        // SMJ's output IS hash(v)-clustered and v-sorted (see
        // AssumeHashClustered's contract) — assert it so the checkpoint
        // carries both into the next round instead of re-shuffling dist.
        graft.plans.AssumeHashClustered(
          dist.join(cand.hint("merge"), Seq("v"), "full")
            .select(col("v"),
              least(coalesce(col("dist"), lit(Long.MaxValue)),
                coalesce(col("nd"), lit(Long.MaxValue))).as("dist"),
              (col("nd").isNotNull &&
                (col("dist").isNull || (col("nd") < col("dist")))).as("improved")),
          "v")
      }
      val dist = run.state.select(col("v"), col("dist"))
      val out = allNodes.join(dist, Seq("v"), "left")
        .select(col("v"), coalesce(col("dist"), lit(-1L)).as("dist"))
        // seeds outside the graph still belong to the result (dist 0)
        .unionAll(dist.join(allNodes, Seq("v"), "left_anti"))
      val result = out.localCheckpoint() // materialize before freeing inputs
      Seq(adj, allNodes, run.state).foreach(PinnedLoop.release(_))
      result
    }
  }

  /** DuckDB replay over a caller-supplied `wedges(a, b, wt)` CTE:
    * fixed-depth unrolled Bellman–Ford relaxing from ALL nodes each round
    * (provably round-equivalent to the frontier form — see class doc).
    * Every per-round CTE is MATERIALIZED (the q102 inlining lesson).
    * Emits `sssp(v, dist)`. */
  def oracleCtes(sourcesPredicate: String, maxRounds: Int): String = {
    val base =
      s"""wcanon AS MATERIALIZED (
         |  SELECT least(a, b) AS a, greatest(a, b) AS b, min(wt) AS wt
         |  FROM wedges WHERE a <> b GROUP BY 1, 2),
         |wund AS MATERIALIZED (
         |  SELECT a AS v, b AS w, wt FROM wcanon
         |  UNION ALL SELECT b, a, wt FROM wcanon),
         |wnodes AS MATERIALIZED (SELECT DISTINCT v FROM wund),
         |d0 AS MATERIALIZED (
         |  SELECT v, 0::BIGINT AS dist FROM wnodes WHERE $sourcesPredicate)""".stripMargin
    val rounds = (1 to maxRounds).map { r =>
      s"""c$r AS MATERIALIZED (
         |  SELECT u.w AS v, min(d.dist + u.wt) AS nd
         |  FROM wund u JOIN d${r - 1} d USING (v) GROUP BY u.w),
         |d$r AS MATERIALIZED (
         |  SELECT coalesce(d.v, c.v) AS v,
         |    least(coalesce(d.dist, 9223372036854775807),
         |          coalesce(c.nd, 9223372036854775807))::BIGINT AS dist
         |  FROM d${r - 1} d FULL JOIN c$r c ON d.v = c.v)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds,
       |sssp AS MATERIALIZED (
       |  SELECT n.v, coalesce(d.dist, -1)::BIGINT AS dist
       |  FROM wnodes n LEFT JOIN d$maxRounds d USING (v))""".stripMargin
  }
}
