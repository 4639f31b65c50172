package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search: exact shortest hop-distance from a
  * seed set over an undirected graph — the reachability/radius primitive
  * behind "how far is every product from the promoted set", influence
  * radii, and connected-neighborhood feature generation.
  *
  * Synchronous frontier expansion, so every round is a pure function of
  * the previous settled set: dist(v) is deterministic and the whole
  * level structure is oracle-checkable (the KCore/PageRank unrolled-round
  * pattern). Nodes not reached within `maxDepth` rounds are reported with
  * dist = -1 ("beyond the horizon") — making the result well-defined even
  * if the graph's eccentricity exceeds the bound, and keeping the Spark
  * fixpoint and a fixed-depth SQL unroll exactly aligned.
  *
  * Scale shape per round: ONE key-partitioned join of the current
  * FRONTIER (not the settled set, not the node set) against the fixed
  * checkpointed adjacency, a distinct, and an anti-join against settled —
  * work is proportional to the frontier's edge boundary, the minimum any
  * BFS must touch. Each round is one job, as in [[PinnedLoop.fixpoint]]
  * (lazy checkpoint + one count, see its scaladoc), but Bfs runs its own
  * loop: the last two levels feed each round and the result unions EVERY
  * level, so no level's checkpoint may be released before the end — the
  * opposite of fixpoint's free-the-previous-round rule. On
  * [[PinnedLoop.rounds]], which runs every budgeted level and bans
  * broadcast joins, q122 ran 8.9-9.9 s against 3.0-3.3 s here (sf0.1,
  * 4 cores).
  */
object Bfs {

  /** `edges(src, dst)`: undirected simple graph (either orientation,
    * self-loops ignored). `sources`: one column `id` — seed nodes
    * (need not all exist in the graph; absent seeds settle at dist 0 and
    * never expand). Returns `(v, dist)` for every node of the graph (and
    * every seed), dist = -1 where no path of length <= maxDepth exists. */
  def distances(edges: DataFrame, src: String, dst: String,
                sources: DataFrame, idCol: String, maxDepth: Int): DataFrame =
    search(edges, src, dst, maxDepth, Seq("v"),
        sources.select(col(idCol).as("v")).distinct()) { (adj, frontier) =>
      adj.join(frontier, Seq("v"), "left_semi").select(col("w").as("v")).distinct()
    } { (allNodes, settled) =>
      allNodes.join(settled, Seq("v"), "left")
        .select(col("v"), coalesce(col("dist"), lit(-1L)).as("dist"))
        // seeds outside the graph still belong to the result (dist 0)
        .unionAll(settled.join(allNodes, Seq("v"), "left_anti"))
    }

  /** Shortest-path COUNTING (the forward phase of Brandes' betweenness):
    * per (source, node), the hop distance AND the number σ of distinct
    * shortest paths — the path-census primitive behind betweenness,
    * path-redundancy audits ("how many independent shortest routes reach
    * this node"), and DAG-based features. Same synchronous frontier
    * discipline as [[distances]], with one addition per round: a node
    * entering the frontier sums σ over its already-frontier predecessors
    * (σ_v = Σ σ_u, u ∈ frontier ∧ u~v) — one key-partitioned join + one
    * hash agg, exact integers. (The backward δ-accumulation of full
    * betweenness sums fractions with data-dependent denominators — not
    * portably exact — so the census stops at σ, which IS.) σ fits a long
    * for bounded depth/degree (Σ over ≤deg predecessors, depth ≤
    * maxDepth); at the bound it would overflow loudly via ANSI, never
    * silently. Returns (source, v, dist, sigma); unreached nodes report
    * (-1, 0). */
  def pathCounts(edges: DataFrame, src: String, dst: String,
                 sources: DataFrame, idCol: String, maxDepth: Int): DataFrame =
    search(edges, src, dst, maxDepth, Seq("s", "v"),
        sources.select(col(idCol).as("s")).distinct()
          .select(col("s"), col("s").as("v"), lit(1L).as("sigma"))) { (adj, frontier) =>
      adj.join(frontier, Seq("v"))
        .groupBy(col("s"), col("w").as("v"))
        .agg(sum(col("sigma")).as("sigma"))
    } { (allNodes, settled) =>
      val spine = settled.filter(col("dist") === 0L).select(col("s")).crossJoin(allNodes)
      spine.join(settled, Seq("s", "v"), "left")
        .select(col("s").as("source"), col("v"),
          coalesce(col("dist"), lit(-1L)).as("dist"),
          coalesce(col("sigma"), lit(0L)).as("sigma"))
        // seeds outside the graph still belong to the result
        .unionAll(settled.join(allNodes, Seq("v"), "left_anti")
          .select(col("s").as("source"), col("v"), col("dist"), col("sigma")))
    }

  /** The level loop both searches share. `seed` is level 0, with the
    * `keys` a node settles under; `expand(adj, frontier)` gives the next
    * level's candidates before the settled check; `output(allNodes,
    * settled)` shapes the result from every level's rows tagged `dist`. */
  private def search(edges: DataFrame, src: String, dst: String, maxDepth: Int,
                     keys: Seq[String], seed: DataFrame)(
      expand: (DataFrame, DataFrame) => DataFrame)(
      output: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e0 = edges
      .select(least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // adjacency in both orientations: frontier joins on one key column
    val adj = e0.select(col("a").as("v"), col("b").as("w"))
      .unionAll(e0.select(col("b").as("v"), col("a").as("w")))
      .localCheckpoint()
    // PinnedLoop scope (see its scaladoc): one job per
    // frontier round; partitions derived from the checkpointed adjacency
    PinnedLoop.scoped(adj.sparkSession, adj.count()) {
      val allNodes = adj.select(col("v")).distinct().localCheckpoint()
      // lazy checkpoint + count = one action per round (see PinnedLoop).
      // The settled set is the UNION of per-round checkpointed levels —
      // never re-materialized as a whole: checkpointing the union each
      // round would write O(V) per round = O(V·depth) total, while the
      // levels sum to O(V) exactly once (each node settles in one round)
      var levels = Vector(seed.localCheckpoint(false))
      var frontierN = levels.last.count()
      while (levels.size <= maxDepth && frontierN > 0) {
        // TWO-FRONTIER settled check: a neighbor w of a node at distance
        // r-1 satisfies |dist(w) - (r-1)| <= 1 (the edge runs both ways),
        // so dist(w) ∈ {r-2, r-1, r} and "already settled" ≡ membership in
        // the LAST TWO levels (per source too) — the anti-join shrinks
        // from O(settled) = O(V) rows per round (O(V·depth) total traffic)
        // to O(two frontiers), which sums to O(V) over the whole run
        val settled = levels.takeRight(2).map(_.select(keys.map(col): _*)).reduce(_ unionAll _)
        levels :+= expand(adj, levels.last).join(settled, keys, "left_anti")
          .localCheckpoint(false)
        frontierN = levels.last.count()
      }
      val result = output(allNodes, levels.zipWithIndex
        .map { case (level, d) => level.withColumn("dist", lit(d.toLong)) }
        .reduce(_ unionAll _))
        .localCheckpoint() // materialize before freeing inputs
      (adj +: allNodes +: levels).foreach(PinnedLoop.release(_))
      result
    }
  }

  /** DuckDB replay of [[pathCounts]] over a caller-supplied `edges(a, b)`
    * CTE: per-round σ sums with per-(source, node) settled exclusion.
    * MATERIALIZED per round (the q102 lesson). Emits `sigma_bfs(source,
    * v, dist, sigma)`.
    *
    * CONTRACT NARROWER THAN THE OPERATOR'S: `sourcesPredicate` selects
    * seeds FROM THE GRAPH'S NODES (p0 draws from bnodes), so a seed
    * absent from the edge set — which [[pathCounts]] handles by emitting
    * its (s, s, 0, 1) row — has NO replay here. Oracle-checked queries
    * must derive their seed set from the edges (q284 does). */
  def pathCountsOracleCtes(sourcesPredicate: String, maxDepth: Int): String = {
    val base =
      s"""und AS MATERIALIZED (
         |  SELECT a AS v, b AS w FROM edges WHERE a <> b
         |  UNION ALL SELECT b, a FROM edges WHERE a <> b),
         |bnodes AS MATERIALIZED (SELECT DISTINCT v FROM und),
         |p0 AS MATERIALIZED (SELECT v AS s, v, 1::BIGINT AS sigma
         |  FROM bnodes WHERE $sourcesPredicate),
         |t0 AS MATERIALIZED (SELECT s, v, 0::BIGINT AS dist, sigma FROM p0)""".stripMargin
    val rounds = (1 to maxDepth).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT f.s, und.w AS v, sum(f.sigma)::BIGINT AS sigma
         |  FROM und JOIN p${r - 1} f USING (v)
         |  WHERE NOT EXISTS (SELECT 1 FROM t${r - 1} x
         |    WHERE x.s = f.s AND x.v = und.w)
         |  GROUP BY f.s, und.w),
         |t$r AS MATERIALIZED (
         |  SELECT s, v, dist, sigma FROM t${r - 1}
         |  UNION ALL SELECT s, v, $r::BIGINT, sigma FROM p$r)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds,
       |sigma_bfs AS MATERIALIZED (
       |  SELECT p0.s AS source, n.v,
       |    coalesce(t.dist, -1)::BIGINT AS dist,
       |    coalesce(t.sigma, 0)::BIGINT AS sigma
       |  FROM (SELECT DISTINCT s FROM p0) p0 CROSS JOIN bnodes n
       |  LEFT JOIN t$maxDepth t ON t.s = p0.s AND t.v = n.v)""".stripMargin
  }

  /** DuckDB replay: fixed-depth unrolled frontier expansion over an
    * `edges(a, b)` CTE supplied by the caller (the caller's WITH clause
    * must define `edges`); emits the same `(v, dist)` relation. Every
    * per-round CTE is MATERIALIZED — each is referenced by the next
    * round and by the final union, and DuckDB's default inlining would
    * re-evaluate the chain exponentially (the q102 lesson). */
  def oracleCtes(sourcesPredicate: String, maxDepth: Int): String = {
    val base =
      s"""und AS MATERIALIZED (
         |  SELECT a AS v, b AS w FROM edges WHERE a <> b
         |  UNION ALL SELECT b, a FROM edges WHERE a <> b),
         |bnodes AS MATERIALIZED (SELECT DISTINCT v FROM und),
         |f0 AS MATERIALIZED (SELECT DISTINCT v FROM bnodes WHERE $sourcesPredicate),
         |s0 AS MATERIALIZED (SELECT v, 0::BIGINT AS dist FROM f0)""".stripMargin
    val rounds = (1 to maxDepth).map { r =>
      s"""f$r AS MATERIALIZED (
         |  SELECT DISTINCT w AS v FROM und JOIN f${r - 1} USING (v)
         |  WHERE w NOT IN (SELECT v FROM s${r - 1})),
         |s$r AS MATERIALIZED (
         |  SELECT v, dist FROM s${r - 1}
         |  UNION ALL SELECT v, $r::BIGINT FROM f$r)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds,
       |bfs AS MATERIALIZED (
       |  SELECT n.v, coalesce(s.dist, -1)::BIGINT AS dist
       |  FROM bnodes n LEFT JOIN s$maxDepth s USING (v))""".stripMargin
  }
}
