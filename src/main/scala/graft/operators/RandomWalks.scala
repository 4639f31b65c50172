package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextHash

/** Deterministic distributed random walks — the corpus-generation step of
  * DeepWalk/node2vec graph embeddings: `walksPerNode` walks of `len` steps
  * from every node, each step choosing a neighbor "uniformly at random".
  *
  * The randomness is the portable md5 chain: step t of walk w at node cur
  * picks neighbor index `md5(cur:w:t) % outdeg(cur)` in the node's
  * rank-ordered adjacency (rank = dense 0-based position of the neighbor
  * in ascending order). Pseudo-random in exactly the sense a training
  * pipeline needs — uniform-ish, decorrelated across (node, walk, step) —
  * and bit-reproducible on any engine with md5, so the entire walk corpus
  * is hash-checkable (the same trick as [[WeightedSample]]'s min-trial
  * race and [[TriangleCensus]]'s edge coins).
  *
  * Scale shape: `len` SEQUENTIAL co-partitioned joins on the current node
  * key — the canonical distributed walk plan. Each round is
  * (walker-state ⨝ degree) → index arithmetic → (⨝ adjacency on
  * (node, rank)); walker state is exactly |V|·walksPerNode rows, never a
  * path blow-up, and the ranked adjacency + degree relations are built
  * once and persisted (bucketed by node at cluster scale). Walks that
  * reach a sink (outdeg 0) stop early — their rows simply end.
  *
  * Contract: `edges` must be DISTINCT directed pairs (duplicates would
  * make neighbor ranks nondeterministic and skew the pick); callers with
  * undirected graphs pass both directions.
  */
object RandomWalks {

  /** Walk corpus as flat rows `(start, walk, step, node)`; step 0 is the
    * start node itself. */
  def walks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      walksPerNode: Int,
      len: Int): DataFrame =
    walkPaths(edges, srcCol, dstCol, walksPerNode, len)
      .select(col("start"), col("walk"),
        posexplode(col("path")).as(Seq("step", "node")))

  /** The same walk corpus PRE-explode — one row per walker,
    * `(start, walk, path)` with path(0) = start. Consumers that derive
    * per-walk features (skip-gram context pairs, co-occurrence windows)
    * should start here: the bounded path array generates them MAP-SIDE,
    * where the exploded form would need a corpus self-join on
    * (start, walk) — the q229 lesson. */
  def walkPaths(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      walksPerNode: Int,
      len: Int): DataFrame = {
    require(walksPerNode >= 1 && len >= 1, s"need >=1 walks and steps")
    val e = edges.select(col(srcCol).as("v"), col(dstCol).as("w"))
    // the ONE loop invariant: rank-ordered adjacency carrying the degree
    // on every row, so each walk step is a single equi-join on the node
    // key (rank match and the md5 pick evaluate inside the join filter)
    val wdw = org.apache.spark.sql.expressions.Window.partitionBy(col("v"))
    // Cluster AND sort the invariant adjacency on the step-join key v
    // ONCE: the persisted relation's carried partitioning/ordering lets
    // every step's sort-merge join exchange and sort ONLY the walker-state
    // side — without this, all `len` steps re-shuffled and re-sorted the
    // O(E) adjacency. (The window's own exchange is hash(v) already, but
    // making the clustering explicit keeps it independent of window
    // internals.)
    val nParts = PinnedLoop.nParts(e.sparkSession, e.count())
    // localCheckpoint, not persist: a checkpointed LogicalRDD leaf carries
    // the partitioning/ordering STATICALLY (AssumeHashClusteredSpec's
    // proven mechanism), where a cached relation under AQE reports unknown
    // partitioning until materialized and every step re-exchanged it
    // anyway (measured: the q228 step-chain job kept its 4x O(E)
    // exchange+sort until this swap). The leaf's pinned count is
    // COUNT-DERIVED (a checkpoint leaf is exempt from AQE coalescing, and
    // every step exchange must match it) by PinnedLoop's rule: ~250k
    // adjacency rows per partition, capped by the configured parallelism —
    // partitions below that are pure scheduling overhead at any scale.
    val adj = e.select(col("v"), col("w"),
        (row_number().over(wdw.orderBy(col("w"))) - 1).cast("long").as("r"),
        count(lit(1)).over(wdw).as("deg"))
      .repartition(nParts, col("v"))
      .sortWithinPartitions("v", "r")
      .localCheckpoint()
    val nodes = e.select(col("v").as("id"))
      .unionByName(e.select(col("w").as("id"))).distinct()
    val starts = nodes.select(col("id").as("start"))
      .crossJoin(spark_range(walksPerNode).toDF("walk"))
    // walker state carries its whole (bounded, ≤ len+1) path as an array —
    // ONE join chain, one job, no per-step union: a union of per-step
    // snapshots would either re-derive each step's join prefix (O(len²)
    // joins) or need a materialization job per round. Dead walkers (sink
    // reached) ride along with alive=false: the join condition can never
    // match them again, and the left join keeps their rows.
    var state = starts.select(col("start"), col("walk"),
      col("start").as("cur"), lit(true).as("alive"),
      array(col("start")).as("path"))
    for (t <- 1 to len) {
      // the md5 pick is HOISTED into the walker projection — one digest
      // per walker per step. Left inside the join condition it referenced
      // the adjacency's deg, so it was re-evaluated per (walker, neighbor)
      // candidate — Σdeg digests per step, ~20x this (measured: q228's
      // step-chain job 40.6 -> 3.9 s task time). Only the cheap
      // pmod-and-compare touches deg per pair.
      state = state.withColumn("h", TextHash.md5Long(concat(
        col("cur").cast("string"), lit(":"), col("walk").cast("string"),
        lit(":"), lit(t - 1).cast("string"))))
      state = state
        .join(adj, col("alive") && col("cur") === adj("v") &&
          adj("r") === pmod(col("h"), adj("deg")), "left")
        .select(col("start"), col("walk"),
          coalesce(col("w"), col("cur")).as("cur"),
          (col("alive") && col("w").isNotNull).as("alive"),
          when(col("w").isNotNull, concat(col("path"), array(col("w"))))
            .otherwise(col("path")).as("path"))
    }
    state.select(col("start"), col("walk"), col("path"))
  }

  private def spark_range(n: Int) = {
    val s = org.apache.spark.sql.SparkSession.active
    s.range(n)
  }

  /** node2vec p/q-BIASED walks with integer bias weights: candidate x from
    * node cur with previous node prev gets weight
    *   `wRet` if x = prev (the return bias, ∝ 1/p),
    *   `wIn`  if x ∈ N(prev) (distance-1 "inward" step),
    *   `wOut` otherwise (distance-2 "outward" step, ∝ 1/q);
    * e.g. (4, 2, 1) realizes p = 1/2, q = 2. The pick is exact sampling
    * ∝ weight via the [[WeightedSample]] min-of-trials md5 race (each
    * candidate runs `weight` trials, argmin wins — the integer-portable
    * Efraimidis–Spirakis order), so the whole biased corpus is
    * hash-checkable like the uniform one. Step 1 has no prev: every
    * candidate takes the `wOut` branch — a uniform pick, node2vec's own
    * first-step semantics.
    *
    * Scale shape: unlike the uniform walk's single ranked-row join, the
    * bias depends on the (prev, cur, x) triple, so each step FANS OUT to
    * all of cur's neighbors (Σ deg candidate rows — the inherent node2vec
    * cost; the alternative, per-(prev,cur) alias tables, is O(Σ deg²)
    * preprocessing) plus one membership join against the edge relation,
    * then a keyed argmin aggregation collapses back to one row per walker.
    * Walker state stays |V|·walksPerNode rows with bounded path arrays;
    * dead walkers (sinks) ride the left join exactly as in [[walks]].
    *
    * Contract: `edges` must be DISTINCT directed pairs; undirected graphs
    * pass both directions. Weights must be small positive integers (the
    * race costs O(w) digests per candidate). */
  def biasedWalks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      walksPerNode: Int,
      len: Int,
      wRet: Long,
      wIn: Long,
      wOut: Long): DataFrame = {
    require(walksPerNode >= 1 && len >= 1, "need >=1 walks and steps")
    require(wRet >= 1 && wIn >= 1 && wOut >= 1,
      "bias weights must be positive integers (they are md5 trial counts)")
    val e = edges.select(col(srcCol).as("v"), col(dstCol).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pn = e.select(col("v").as("pv"), col("w").as("pw"))
    val nodes = e.select(col("v").as("id"))
      .unionByName(e.select(col("w").as("id"))).distinct()
    val idType = edges.schema(srcCol).dataType
    val starts = nodes.select(col("id").as("start"))
      .crossJoin(spark_range(walksPerNode).toDF("walk"))
    var state = starts.select(col("start"), col("walk"),
      lit(null).cast(idType).as("prev"), col("start").as("cur"),
      lit(true).as("alive"), array(col("start")).as("path"))
    for (t <- 1 to len) {
      val cand = state
        .join(e, col("alive") && col("cur") === col("v"), "left")
        .join(pn, col("prev") === col("pv") && col("w") === col("pw"), "left")
        .withColumn("bw",
          when(col("w").isNull, lit(null).cast("long"))
            .when(col("w") === col("prev"), lit(wRet))
            .when(col("pw").isNotNull, lit(wIn))
            .otherwise(lit(wOut)))
        .withColumn("rk", coalesce(
          WeightedSample.raceKey(
            concat_ws(":", col("start").cast("string"), col("walk").cast("string"),
              lit(t.toString), col("w").cast("string")),
            col("bw")),
          lit(Long.MaxValue)))
      // keyed argmin back to one row per walker; (rk, candidate) is unique
      // within a group, so the struct comparison never reaches the carried
      // state fields. Dead/sink walkers have exactly one (null-w) row.
      state = cand.groupBy(col("start"), col("walk"))
        .agg(min(struct(col("rk"), coalesce(col("w"), col("cur")).as("nxt"),
          (col("alive") && col("w").isNotNull).as("mv"),
          col("cur").as("pcur"), col("path").as("ppath"))).as("pick"))
        .select(col("start"), col("walk"),
          col("pick.pcur").as("prev"),
          col("pick.nxt").as("cur"),
          col("pick.mv").as("alive"),
          when(col("pick.mv"), concat(col("pick.ppath"), array(col("pick.nxt"))))
            .otherwise(col("pick.ppath")).as("path"))
    }
    state.select(col("start"), col("walk"),
      posexplode(col("path")).as(Seq("step", "node")))
  }

  /** DuckDB replay of [[biasedWalks]]: CTE fragments `b0..b<len>, walks`
    * over a distinct directed `<edgesCte>(v, w)` relation with BIGINT node
    * ids. Candidate weights and the min-of-trials race replay via
    * [[WeightedSample.raceKeySql]]; the per-walker argmin is a
    * `row_number() = 1` over (rk, w). Step CTEs are MATERIALIZED (the
    * q102 inlining lesson). */
  def biasedOracleCtes(walksPerNode: Int, len: Int,
      wRet: Long, wIn: Long, wOut: Long, edgesCte: String = "edges"): String = {
    val steps = (1 to len).map { t =>
      val idSql = s"s.start::VARCHAR || ':' || s.walk::VARCHAR || ':' || '$t' || ':' || a.w::VARCHAR"
      val wSql = s"(CASE WHEN a.w = s.prev THEN $wRet " +
        s"WHEN pn.pw IS NOT NULL THEN $wIn ELSE $wOut END)"
      s"""c$t AS (SELECT s.start, s.walk, s.cur, a.w,
         |    ${WeightedSample.raceKeySql(idSql, wSql)} AS rk
         |  FROM b${t - 1} s
         |  JOIN $edgesCte a ON a.v = s.cur
         |  LEFT JOIN (SELECT v AS pv, w AS pw FROM $edgesCte) pn
         |    ON pn.pv = s.prev AND pn.pw = a.w),
         |b$t AS MATERIALIZED (SELECT start, walk, cur AS prev, w AS cur FROM (
         |    SELECT c$t.*, row_number() OVER (PARTITION BY start, walk ORDER BY rk, w) AS rn
         |    FROM c$t) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to len).map(t =>
      s"SELECT start, walk, $t AS step, cur AS node FROM b$t").mkString("\n  UNION ALL ")
    s"""nds AS (SELECT DISTINCT id FROM
       |  (SELECT v AS id FROM $edgesCte UNION ALL SELECT w FROM $edgesCte)),
       |b0 AS MATERIALIZED (SELECT id AS start, unnest(range(0, $walksPerNode)) AS walk,
       |    NULL::BIGINT AS prev, id AS cur
       |  FROM nds),
       |$steps,
       |walks AS MATERIALIZED (SELECT start, walk, 0 AS step, cur AS node FROM b0
       |  UNION ALL $unions)""".stripMargin
  }

  /** DuckDB replay: CTE fragments `adj, dg, s0..s<len>, walks` (compose
    * with a `WITH` holding a `<edgesCte>(v, w)` relation of distinct
    * directed pairs). `walks` has columns (start, walk, step, node). Every
    * step CTE is MATERIALIZED: the chain is consumed by both the next step
    * and the final union, and default inlining would re-evaluate the whole
    * prefix exponentially (the q102 k-core lesson). */
  def oracleCtes(walksPerNode: Int, len: Int, edgesCte: String = "edges"): String = {
    val steps = (1 to len).map { t =>
      s"""s$t AS MATERIALIZED (SELECT s.start, s.walk, a.w AS cur
         |  FROM s${t - 1} s
         |  JOIN dg ON dg.v = s.cur
         |  JOIN adj a ON a.v = s.cur AND a.r =
         |    (${TextHash.md5LongSql(s"s.cur::VARCHAR || ':' || s.walk::VARCHAR || ':' || '${t - 1}'")} % dg.deg)
         |  )""".stripMargin
    }.mkString(",\n")
    val unions = (1 to len).map(t =>
      s"SELECT start, walk, $t AS step, cur AS node FROM s$t").mkString("\n  UNION ALL ")
    s"""adj AS (SELECT v, w,
       |    (row_number() OVER (PARTITION BY v ORDER BY w) - 1)::BIGINT AS r
       |  FROM $edgesCte),
       |dg AS (SELECT v, count(*)::BIGINT AS deg FROM adj GROUP BY v),
       |nds AS (SELECT DISTINCT id FROM
       |  (SELECT v AS id FROM $edgesCte UNION ALL SELECT w FROM $edgesCte)),
       |s0 AS MATERIALIZED (SELECT id AS start, unnest(range(0, $walksPerNode)) AS walk, id AS cur
       |  FROM nds),
       |$steps,
       |walks AS MATERIALIZED (SELECT start, walk, 0 AS step, cur AS node FROM s0
       |  UNION ALL $unions)""".stripMargin
  }
}
