package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer-arithmetic PageRank over an edge relation.
  *
  * Classic damped PageRank, reformulated so every quantity is an exact
  * integer (micro-units: 1.0 ≡ 1,000,000) and every per-edge transfer uses
  * integer division:
  *
  *   contrib(u→v) = (r(u) · dampNum) div (dampDen · outdeg(u))
  *   r'(v)        = base + Σ contrib(u→v)        base = (1−d) in micro-units
  *
  * Why integers: float PageRank sums contributions in nondeterministic
  * order, so two runs (or two engines) disagree in the last ulps and an
  * oracle hash-compare can never be exact. Integer transfers commute — the
  * aggregation order cannot change the result — so the fixpoint is
  * bit-reproducible on any engine (the DuckDB replay in [[oracleSql]] uses
  * the same `//` floor division; all values are positive, so floor and
  * truncate agree).
  *
  * Scale shape: each iteration is two key-parallel shuffles — an equi-join
  * of the rank relation with the out-degree-annotated edges on `src`, then
  * a hash-aggregate on `dst` with map-side combine (the sum of longs is
  * associative). Nothing is ever collected to the driver and no iteration
  * holds more than (|V| + |E|) rows. The loop-invariant relations (node
  * set, degree-annotated edges) are checkpointed: ReusedExchange does NOT
  * dedup them across iterations (self-union attribute rewrites give every
  * iteration's subtree fresh expr ids — verified in the physical plan), so
  * without the checkpoint a 3-iteration run scans and dedups the edge
  * input four times. At cluster scale the same relations would be bucketed
  * by `src` once. The iterations run on [[PinnedLoop.rounds]], which
  * releases the invariants with the rounds.
  *
  * Dangling nodes (no out-edges) simply leak their damped mass — the
  * standard "remove dangling redistribution" simplification; documented
  * rather than redistributed because redistribution needs a global scalar
  * per iteration (one extra tiny aggregate) that changes no ordering.
  */
object PageRank {

  val Micro = 1000000L

  /** Ranks in micro-units after `iters` synchronous iterations.
    *
    * @param edges relation with `srcCol`, `dstCol` (directed src→dst)
    * @return (id, rank_micro) for every node appearing in the edge set
    */
  def ranksMicro(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 3,
      dampNum: Long = 85,
      dampDen: Long = 100): DataFrame =
    // every node a seed: unit start mass and the uniform restart
    ranks(edges, srcCol, dstCol, None, iters, dampNum, dampDen).drop("is_seed")

  /** Personalized PageRank: restart mass teleports to the `seeds` node set
    * instead of uniformly — the random-walk-with-restart relevance measure
    * behind graph-based recommendation ("parts a walker starting at this
    * brand keeps returning to"). Same exact-integer transfers as
    * [[ranksMicro]]; each seed carries unit restart mass (Micro), so ranks
    * are comparable across seed sets of different sizes. Seeds not present
    * in the edge set contribute nothing (they have no incident walk).
    *
    * Scale shape is identical to ranksMicro — the seed flag rides the
    * checkpointed node relation (one extra left-join at build time); the
    * per-iteration work is unchanged.
    */
  def personalizedMicro(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      iters: Int = 3,
      dampNum: Long = 85,
      dampDen: Long = 100): DataFrame =
    ranks(edges, srcCol, dstCol, Some(seeds), iters, dampNum, dampDen)

  /** (id, is_seed, rank_micro); no `seeds` makes every node a seed. */
  private def ranks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: Option[DataFrame],
      iters: Int,
      dampNum: Long,
      dampDen: Long): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val base = (Micro * (dampDen - dampNum)) / dampDen
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val ids = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
    val nodes = seeds.fold(ids.withColumn("is_seed", lit(true))) { sd =>
      ids.join(sd.select(sd.columns.head).toDF("sid").distinct(), col("id") === col("sid"), "left")
        .select(col("id"), col("sid").isNotNull.as("is_seed"))
    }.localCheckpoint(false)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = e.join(deg, "src").localCheckpoint(false)

    PinnedLoop.rounds(e.sparkSession, edgesDeg.count(), iters,
        invariants = Seq(nodes, edgesDeg)) {
      nodes.select(col("id"), col("is_seed"),
        when(col("is_seed"), lit(Micro)).otherwise(lit(0L)).as("r"))
    } { r =>
      val contrib = edgesDeg
        .join(r.select(col("id").as("src"), col("r")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(expr(s"(r * $dampNum) div ($dampDen * outdeg)")).as("c"))
      nodes.join(contrib, Seq("id"), "left")
        .select(col("id"), col("is_seed"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L))
            + coalesce(col("c"), lit(0L))).as("r"))
    }.withColumnRenamed("r", "rank_micro")
  }

  /** DuckDB replay of [[personalizedMicro]]. `seedsSql` must select a
    * single column `sid`. */
  def personalizedOracleSql(
      edgesSql: String,
      seedsSql: String,
      iters: Int = 3,
      dampNum: Long = 85,
      dampDen: Long = 100): String = {
    val base = (Micro * (dampDen - dampNum)) / dampDen
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (SELECT dst, sum((r * $dampNum) // ($dampDen * outdeg))::BIGINT AS c
         |  FROM e JOIN dg USING (src) JOIN r${k - 1} ON e.src = r${k - 1}.id GROUP BY dst),
         |r$k AS (SELECT nd.id, nd.is_seed,
         |    ((CASE WHEN nd.is_seed THEN $base ELSE 0 END) + coalesce(c, 0))::BIGINT AS r
         |  FROM nd LEFT JOIN c$k ON nd.id = c$k.dst)""".stripMargin
    }.mkString(",\n")
    s"""e AS ($edgesSql),
       |sd AS (SELECT DISTINCT sid FROM ($seedsSql)),
       |nd AS (SELECT id, (sid IS NOT NULL) AS is_seed FROM
       |  (SELECT DISTINCT id FROM
       |    (SELECT src AS id FROM e UNION ALL SELECT dst FROM e))
       |  LEFT JOIN sd ON id = sid),
       |dg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT id, is_seed,
       |  (CASE WHEN is_seed THEN ${Micro} ELSE 0 END)::BIGINT AS r FROM nd),
       |$iterCtes""".stripMargin
  }

  /** DuckDB replay: the same unrolled iterations with `//` floor division.
    * `edgesSql` must select columns `src, dst`. */
  def oracleSql(
      edgesSql: String,
      iters: Int = 3,
      dampNum: Long = 85,
      dampDen: Long = 100): String = {
    val base = (Micro * (dampDen - dampNum)) / dampDen
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (SELECT dst, sum((r * $dampNum) // ($dampDen * outdeg))::BIGINT AS c
         |  FROM e JOIN dg USING (src) JOIN r${k - 1} ON e.src = r${k - 1}.id GROUP BY dst),
         |r$k AS (SELECT nd.id, ($base + coalesce(c, 0))::BIGINT AS r
         |  FROM nd LEFT JOIN c$k ON nd.id = c$k.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesSql),
       |nd AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |dg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT id, ${Micro}::BIGINT AS r FROM nd),
       |$iterCtes
       |SELECT id, r AS rank_micro FROM r$iters""".stripMargin
  }
}
