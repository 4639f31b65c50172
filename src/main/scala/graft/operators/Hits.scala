package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer-arithmetic HITS (hubs & authorities) over an edge relation.
  *
  * Kleinberg's mutual-reinforcement fixpoint, reformulated like
  * [[PageRank]] so every quantity is an exact integer and the result is
  * bit-reproducible on any engine:
  *
  *   a_k(v) = Σ_{u→v} h_{k-1}(u)      (authority = sum of pointing hubs)
  *   h_k(u) = Σ_{u→v} a_k(v)          (hub = sum of pointed authorities)
  *
  * with each half-step rescaled to micro-units by INTEGER division by the
  * step's max: x' = (x · 1e6) div max(x). The classic L2 normalization is
  * a float sqrt — two engines disagree in the last ulp and the ranking
  * hash can never be exact — while max-normalization needs only a
  * commutative integer max and one integer division, and preserves the
  * ranking (normalization in HITS is only there to stop the values from
  * growing without bound).
  *
  * Scale shape: each half-step is one equi-join of the (persisted would-be
  * bucketed) edge relation with the current score relation + one
  * hash-aggregate with map-side combine — the same two-shuffle round as
  * PageRank — plus one tiny max-aggregate whose single row is broadcast
  * back (a scalar, never a driver collect). Every round's score relation
  * is `localCheckpoint`ed to truncate the doubling lineage (the scalar
  * normalization embeds the raw relation twice per round), and the
  * PREVIOUS round's checkpoints are released once the new ones
  * materialize, so block-manager memory is O(|V|), not O(|V|·rounds).
  * Hits keeps this eager per-half-step loop rather than
  * [[PinnedLoop.rounds]]: on that loop q117 ran 3.7-3.8 s against 2.0-2.2 s
  * here (sf0.1, 4 cores).
  *
  * Overflow bound: scores are ≤ 1e6 after each rescale, so a sum is ≤
  * deg·1e6 and the rescale multiplicand ≤ deg·1e12 — safe in int64 for
  * in/out-degrees up to ~9·10⁶. Beyond that, drop Micro to 1e3.
  */
object Hits {

  val Micro = 1000000L

  /** (id, hub_micro, auth_micro) for every node in the edge set, after
    * `iters` full authority→hub rounds. Nodes with no in-edges have
    * authority 0; nodes with no out-edges have hub 0.
    */
  def hitsMicro(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // One half-step: sum the counterpart score over the edges, checkpoint
    // the raw sums (the rescale reads them twice — once for the max, once
    // for the division), rescale to micro-units (the agg row is broadcast,
    // never collected), checkpoint the result so the next half-step starts
    // from a truncated lineage. Returns the rescaled relation plus the two
    // checkpoint handles so the caller can free the previous round.
    def halfStep(score: DataFrame, scoreCol: String, joinKey: String,
        outKey: String, vcol: String): (DataFrame, Seq[DataFrame]) = {
      val raw = e.join(score, e(joinKey) === score("id"))
        .groupBy(col(outKey)).agg(sum(col(scoreCol)).as(vcol))
        .select(col(outKey).as("id"), col(vcol))
        .localCheckpoint()
      val scaled = raw
        .crossJoin(broadcast(raw.agg(max(col(vcol)).as("mx"))))
        .select(col("id"), expr(s"($vcol * $Micro) div mx").as(vcol))
        .localCheckpoint()
      (scaled, Seq(raw, scaled))
    }

    var h = nodes.select(col("id"), lit(Micro).as("h"))
    var a: DataFrame = null
    var prevCk: Seq[DataFrame] = Nil
    for (_ <- 1 to iters) {
      val (a1, aCks) = halfStep(h, "h", "src", "dst", "a")
      a = a1
      val (h1, hCks) = halfStep(a, "a", "dst", "src", "h")
      h = h1
      prevCk.foreach(PinnedLoop.release(_))
      prevCk = aCks ++ hCks
    }
    val out = nodes
      .join(h, Seq("id"), "left")
      .join(a, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("h"), lit(0L)).as("hub_micro"),
        coalesce(col("a"), lit(0L)).as("auth_micro"))
      .localCheckpoint() // materialize before freeing what it reads
    prevCk.foreach(PinnedLoop.release(_))
    Seq(e, nodes).foreach(_.unpersist())
    out
  }

  /** DuckDB replay: the same unrolled half-steps with `//` floor division
    * (all values positive, floor == truncate) and scalar-subquery maxes.
    * `AS MATERIALIZED` on every per-round CTE — default inlining
    * re-evaluates the doubling chain exponentially (the k-core lesson).
    * `edgesSql` must select columns `src, dst`.
    */
  def oracleSql(edgesSql: String, iters: Int = 2): String = {
    val rounds = (1 to iters).map { k =>
      val hPrev = if (k == 1) "h0" else s"h${k - 1}"
      s"""a${k}r AS MATERIALIZED (SELECT dst AS id, sum(h)::BIGINT AS a
         |  FROM e JOIN $hPrev ON e.src = $hPrev.id GROUP BY dst),
         |a$k AS MATERIALIZED (SELECT id,
         |  ((a * $Micro) // (SELECT max(a) FROM a${k}r))::BIGINT AS a FROM a${k}r),
         |h${k}r AS MATERIALIZED (SELECT src AS id, sum(a)::BIGINT AS h
         |  FROM e JOIN a$k ON e.dst = a$k.id GROUP BY src),
         |h$k AS MATERIALIZED (SELECT id,
         |  ((h * $Micro) // (SELECT max(h) FROM h${k}r))::BIGINT AS h FROM h${k}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesSql),
       |nd AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |h0 AS (SELECT id, ${Micro}::BIGINT AS h FROM nd),
       |$rounds
       |SELECT nd.id, coalesce(h$iters.h, 0)::BIGINT AS hub_micro,
       |  coalesce(a$iters.a, 0)::BIGINT AS auth_micro
       |FROM nd LEFT JOIN h$iters ON nd.id = h$iters.id
       |        LEFT JOIN a$iters ON nd.id = a$iters.id""".stripMargin
  }
}
