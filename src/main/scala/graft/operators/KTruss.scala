package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** k-truss attrition — the EDGE-level sibling of [[KCore]]'s vertex
  * peeling: each round drops every edge whose triangle support (common
  * neighbors of its endpoints in the CURRENT graph) is below k−2, until
  * the surviving subgraph is the k-truss. Like q102, what the query emits
  * is the ATTRITION CURVE itself — per-round edge counts before/after the
  * support filter — so the oracle checks every round of the fixpoint, not
  * just the final set.
  *
  * Shape at scale: per round ONE adjacency build (groupBy + sorted
  * neighbor array) and one edges⋈adj⋈adj join whose support evaluates in
  * the codegen'd sorted-merge intersect kernel — no wedge explosion, no
  * per-triangle rows. Adjacency arrays are bounded by the data model here
  * (co-purchase degree ≤ basket capacity × part order-frequency, measured
  * ≤ 37 and scale-stable); for genuinely unbounded-degree graphs compose
  * with the q148 hub cap and accept approximate supports. The rounds run
  * on [[PinnedLoop.fixpoint]], whose one count per round is the round's
  * `edges_after`.
  *
  * A FIXED round count keeps Spark's curve hash-identical to the oracle's
  * unrolled CTEs; converged rounds just repeat their counts (cheap — the
  * edge set only shrinks), and a graph peeled empty pads the curve with
  * zero-edge rounds.
  */
object KTruss {

  /** Run exactly `rounds` support-filter rounds of the k-truss peel over
    * canonical edges (a < b); returns the attrition curve
    * (round, edges_before, edges_after). */
  def attritionCurve(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3 (support threshold k-2 >= 1)")
    require(rounds >= 1)
    val spark = edges.sparkSession
    val e = edges.select(col("a"), col("b")).localCheckpoint(false)
    val n0 = e.count()
    val run = PinnedLoop.fixpoint(spark, n0, lit(true), rounds, invariants = Seq(e))(e) { cur =>
      val und = cur.select(col("a").as("n"), col("b").as("m"))
        .unionAll(cur.select(col("b").as("n"), col("a").as("m")))
      val adj = und.groupBy(col("n"))
        .agg(sort_array(collect_list(col("m"))).as("nb"))
      cur
        .join(adj.select(col("n").as("a"), col("nb").as("na")), "a")
        .join(adj.select(col("n").as("b"), col("nb").as("nbb")), "b")
        .withColumn("sup",
          VectorExpressions.sortedIntersectCount(col("na"), col("nbb")))
        .filter(col("sup") >= k - 2)
        .select(col("a"), col("b"))
    }
    PinnedLoop.release(run.state) // the curve is all that is returned
    val after = run.pending.padTo(rounds, 0L)
    import spark.implicits._
    after.indices.map(i => (i + 1, (n0 +: after)(i), after(i)))
      .toDF("round", "edges_before", "edges_after")
  }

  /** DuckDB replay: `rounds` unrolled adjacency/support/filter rounds over
    * an `edges0` CTE the caller provides (canonical a < b). Every round's
    * edge CTE is MATERIALIZED — default inlining would re-run the whole
    * prior chain per reference (the q102 lesson). */
  def oracleSql(rounds: Int, k: Int): String = {
    val body = (1 to rounds).map { r =>
      val p = r - 1
      s"""und$p AS (SELECT a AS n, b AS m FROM edges$p
         |          UNION ALL SELECT b AS n, a AS m FROM edges$p),
         |adj$p AS MATERIALIZED (SELECT n, list(m ORDER BY m) AS nb
         |                       FROM und$p GROUP BY n),
         |edges$r AS MATERIALIZED (
         |  SELECT e.a, e.b FROM edges$p e
         |  JOIN adj$p x ON e.a = x.n
         |  JOIN adj$p y ON e.b = y.n
         |  WHERE len(list_intersect(x.nb, y.nb)) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    val curve = (1 to rounds).map { r =>
      s"""SELECT $r AS round,
         |  (SELECT count(*) FROM edges${r - 1})::BIGINT AS edges_before,
         |  (SELECT count(*) FROM edges$r)::BIGINT AS edges_after""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$body\n$curve"
  }
}
