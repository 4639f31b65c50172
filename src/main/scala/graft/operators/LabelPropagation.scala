package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (LPA): every node
  * starts in its own singleton community and each round adopts the most
  * frequent label among its neighbors — the near-linear community
  * heuristic for graphs where modularity optimization is unaffordable.
  *
  * Async LPA is run-order-dependent (the reason it rarely appears with a
  * correctness gate); this is the SYNCHRONOUS variant with a total
  * deterministic tie rule — argmax by (count DESC, label ASC) — and a
  * FIXED round budget, so every round is a pure function of the previous
  * labeling and the whole run replays bit-for-bit in unrolled SQL (the
  * Bfs/KCore discipline). Synchronous LPA can oscillate on bipartite-ish
  * regions; a fixed budget samples the deterministic orbit rather than
  * chasing a fixpoint that may not exist — the documented trade.
  *
  * Scale shape per round: one key-partitioned join of the label relation
  * against the fixed checkpointed adjacency, then a (node, label) count
  * and a min-struct argmax — two shuffles, both map-side combinable. The
  * rounds run on [[PinnedLoop.rounds]]. */
object LabelPropagation {

  /** `edges(src, dst)`: undirected simple graph. Returns `(v, label)`
    * after `rounds` synchronous updates; labels are node ids (the
    * smallest-id convention emerges only where ties say so). */
  def labels(edges: DataFrame, src: String, dst: String, rounds: Int): DataFrame = {
    val e0 = edges
      .select(least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val adj = e0.select(col("a").as("v"), col("b").as("w"))
      .unionAll(e0.select(col("b").as("v"), col("a").as("w")))
      .localCheckpoint(false)
    PinnedLoop.rounds(adj.sparkSession, adj.count(), rounds, invariants = Seq(adj)) {
      adj.select(col("v")).distinct().withColumn("label", col("v"))
    } { lab =>
      adj.join(lab.withColumnRenamed("v", "w"), Seq("w"))
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("v"))
        // argmax (cnt DESC, label ASC) as one map-side-combinable
        // min-struct — no per-node window sort
        .agg(min(struct((-col("cnt")).as("nc"), col("label"))).as("m"))
        .select(col("v"), col("m.label").as("label"))
    }
  }

  /** DuckDB replay over a caller-supplied `edges(a, b)` CTE: the same
    * fixed-round synchronous updates, argmax via row_number (count DESC,
    * label ASC). Emits `lpa(v, label)`. Every per-round CTE is
    * MATERIALIZED (the q102 inlining lesson). */
  def oracleCtes(rounds: Int): String = {
    val base =
      s"""lcanon AS MATERIALIZED (
         |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
         |  FROM edges WHERE a <> b),
         |lund AS MATERIALIZED (
         |  SELECT a AS v, b AS w FROM lcanon
         |  UNION ALL SELECT b, a FROM lcanon),
         |l0 AS MATERIALIZED (SELECT DISTINCT v, v AS label FROM lund)""".stripMargin
    val iter = (1 to rounds).map { r =>
      s"""n$r AS (SELECT u.v, l.label, count(*) AS cnt
         |  FROM lund u JOIN l${r - 1} l ON u.w = l.v GROUP BY 1, 2),
         |l$r AS MATERIALIZED (SELECT v, label FROM (
         |  SELECT v, label, row_number() OVER (PARTITION BY v
         |    ORDER BY cnt DESC, label) AS rn FROM n$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iter,
       |lpa AS MATERIALIZED (SELECT v, label FROM l$rounds)""".stripMargin
  }
}
