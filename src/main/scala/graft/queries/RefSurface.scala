package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.PinnedLoop
import graft.ops.{Enrich, ParentEdges, QualityGates, UltimateParent}

/** The reference's own operator surface (SURVEY.md §2) expressed over the
  * harness tables, each with a DuckDB oracle.
  *
  * The parent/rollup family runs on a synthetic 3-level hierarchy derived
  * from the star schema: region (roots) ← nation ← customer, with ids
  * prefixed `R`/`N`/`C` to share one key space — exercising exactly the
  * reference's edge semantics at depth 2.
  */
object RefSurface {

  private def hierarchyNodes(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir).select(
      concat(lit("R"), col("r_regionkey")).as("id"),
      concat(lit("R"), col("r_regionkey")).as("parent"))
    val n = Tables.nation(spark, dir).select(
      concat(lit("N"), col("n_nationkey")).as("id"),
      concat(lit("R"), col("n_regionkey")).as("parent"))
    val c = Tables.customer(spark, dir).select(
      concat(lit("C"), col("c_custkey")).as("id"),
      concat(lit("N"), col("c_nationkey")).as("parent"))
    r.unionByName(n).unionByName(c)
  }

  private val nodesCte =
    """WITH nodes AS (
      |  SELECT 'R' || r_regionkey AS id, 'R' || r_regionkey AS parent FROM region
      |  UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
      |  UNION ALL SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer)
      |""".stripMargin

  /** Rollup `(id, ultimate_parent)` over the synthetic hierarchy. */
  def rollup(spark: SparkSession, dir: String): DataFrame =
    UltimateParent
      .resolveDistributed(hierarchyNodes(spark, dir))
      .select(col("id"), col("ultimate_parent"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 — exact-distinct uniqueness gate (ror_dag.py:181).
    "q01_uniqueness_gate" -> ((s, d) =>
      QualityGates.uniqueIdsDf(Tables.orders(s, d), "o_orderkey")),

    // A2 — monotonic row-count gate (ror_dag.py:186-189).
    "q02_monotonic_gate" -> ((s, d) =>
      QualityGates.monotonicCountDf(Tables.lineitem(s, d), Tables.orders(s, d))),

    // G3 — duplicate-id report (get_ultimate_parent.py:80); empty iff unique.
    "q03_duplicate_ids" -> ((s, d) =>
      ParentEdges.duplicateIds(Tables.customer(s, d), "c_custkey")),

    // T2 — last-parent-wins, case-insensitive edge extraction over an
    // array<struct> built per order from its (linenumber-ordered) lineitems.
    "q04_parent_edges" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val rels = li
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").as("ln"),
          when(col("l_returnflag") === "R", lit("Parent")).otherwise(lit("related")).as("type"),
          concat(lit("P"), col("l_partkey")).as("id")))).as("rels0"))
        .select(
          col("l_orderkey").as("orderkey"),
          transform(col("rels0"), r =>
            struct(r.getField("type").as("type"), r.getField("id").as("id"))).as("relationships"))
      rels.select(
        col("orderkey"),
        ParentEdges.parentIdCol(concat(lit("O"), col("orderkey")), col("relationships")).as("parent"))
    }),

    // G1/G2 — distributed pointer-jumping ultimate-parent fixpoint.
    "q05_ultimate_parent_rollup" -> ((s, d) => rollup(s, d)),

    // J1 — broadcast enrichment join + region-name lookup.
    "q06_enrich_ultimate_parent" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(
        concat(lit("C"), col("c_custkey")).as("id"), col("c_custkey"))
      val enriched = Enrich.withUltimateParent(cust, rollup(s, d))
      val region = Tables.region(s, d).select(
        concat(lit("R"), col("r_regionkey")).as("ultimate_parent"),
        col("r_name").as("region_name"))
      enriched
        .join(broadcast(region), Seq("ultimate_parent"))
        .select(col("c_custkey"), col("ultimate_parent"), col("region_name"))
    }),

    // F1-F3 — scalar function surface (lower / endswith / split+element_at).
    "q07_scalar_funcs" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        lower(col("p_type")).as("type_lower"),
        col("p_name").endsWith("widget").as("is_widget"),
        element_at(split(col("p_name"), " "), -1).as("name_last"),
        concat(lit("B"), element_at(split(col("p_brand"), "#"), -1)).as("brand_num"))),

    // Headline agg — TPC-H Q1-style pricing summary (partial+final hashagg).
    // All inputs are 2-decimal, so every aggregate runs in EXACT integer
    // units (cents; disc_price in 1e-4, charge in 1e-6 after the integer
    // products) — long sums are order-independent, unlike double sums whose
    // accumulation order differs between Spark's partial/final hashagg and
    // DuckDB's scan order. Floats appear only in the final division +
    // portable floor-round, which are bit-identical cross-engine.
    "q08_pricing_summary" -> ((s, d) => {
      def c100(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")
      def r2(c: org.apache.spark.sql.Column) =
        graft.functions.PortableMath.roundPortable(c, 2)
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .select(col("l_returnflag"), col("l_linestatus"),
          c100(col("l_quantity")).as("qty_c"),
          c100(col("l_extendedprice")).as("ep_c"),
          c100(col("l_discount")).as("disc_c"),
          c100(col("l_tax")).as("tax_c"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (sum(col("qty_c")).cast("double") / 100).as("sum_qty"),
          (sum(col("ep_c")).cast("double") / 100).as("sum_base_price"),
          r2(sum(col("ep_c") * (lit(100L) - col("disc_c"))).cast("double") / 10000)
            .as("sum_disc_price"),
          // charge's per-row product is ~2e11 (1e-6 units): a plain long sum
          // overflows int64 near sf 13. Sum as decimal(38,0) — int128-class,
          // matching DuckDB's BIGINT-sum → HUGEINT promotion — then one
          // correctly-rounded cast to double (same as HUGEINT → double).
          // The other sums' per-row magnitudes (≤1e9) stay in int64 to
          // sf ≫ 1000, so they keep the cheaper long path.
          r2(sum((col("ep_c") * (lit(100L) - col("disc_c")) * (lit(100L) + col("tax_c")))
            .cast("decimal(38,0)"))
            .cast("double") / 1000000).as("sum_charge"),
          r2(sum(col("qty_c")).cast("double") / count(lit(1)) / 100).as("avg_qty"),
          r2(sum(col("ep_c")).cast("double") / count(lit(1)) / 100).as("avg_price"),
          count(lit(1)).as("count_order"))
    }),

    // Headline sort/limit — top-k with deterministic tie-break + F4 date fmt.
    "q09_topk_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)
        .select(
          col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("total"),
          date_format(col("o_orderdate"), "yyyyMMdd").as("odate"))),

    // Headline join — TPC-H Q5-style revenue per nation in one region.
    "q10_revenue_by_nation" -> ((s, d) => {
      val c = Tables.customer(s, d); val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d); val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(
          // exact 1e-4 units (cents × pct): the 4-decimal product sum CAN
          // land exactly on a .005 boundary, so sum longs and floor-round
          graft.functions.PortableMath.roundPortable(
            sum(round(col("l_extendedprice") * 100).cast("long")
              * (lit(100L) - round(col("l_discount") * 100).cast("long")))
              .cast("double") / 10000, 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Centrality over the same hierarchy the rollup resolves: 3 iterations
    // of exact-integer PageRank (micro-units, integer-div transfers — see
    // operators/PageRank.scala for why floats can't be oracle-hashed).
    // Rank mass flows customer → nation → region, so the ranking IS the
    // rollup weighted by subtree population. Roots' self-loops are dropped
    // (they'd trap mass); roots become dangling sinks, the standard
    // simplification.
    "q81_pagerank" -> ((s, d) =>
      graft.operators.PageRank.ranksMicro(
        hierarchyNodes(s, d).filter(col("id") =!= col("parent")),
        srcCol = "id", dstCol = "parent", iters = 3)),

    // Graph shape profiling over the same hierarchy the rollup resolves:
    // in-degree (children per parent, self-loops excluded) histogram.
    // Two chained hash-aggs — degree per parent, then node count per
    // degree; the second input is |parents| rows, tiny at any scale.
    "q71_degree_histogram" -> ((s, d) =>
      hierarchyNodes(s, d)
        .filter(col("id") =!= col("parent"))
        .groupBy(col("parent"))
        .agg(count(lit(1)).as("in_degree"))
        .groupBy(col("in_degree"))
        .agg(count(lit(1)).as("n_nodes"))),

    // Transitive ancestor ENUMERATION over the same hierarchy q05 rolls
    // up — every (node, ancestor, depth) pair, not just the root: the
    // lineage/bill-of-materials closure. Iterated frontier joins against
    // the (self-loop-free) edge set on PinnedLoop.fixpoint: the state is
    // the closure so far, its last level flagged `fresh` (the only pairs
    // extended next round); the loop converges when a round adds no pair,
    // at the hierarchy depth, and roots stop naturally because self-loops
    // are excluded from the edge relation. A hierarchy deeper than 50
    // levels (or a cycle) fails loudly rather than returning a truncated
    // closure. The oracle is a genuine RECURSIVE CTE — DuckDB's own
    // fixpoint evaluator must agree with the iterated joins.
    "q139_ancestor_closure" -> ((s, d) => {
      val e = hierarchyNodes(s, d)
        .filter(col("id") =!= col("parent")).localCheckpoint()
      val up = e.select(col("id").as("ancestor"), col("parent").as("up"))
      val maxDepth = 50
      val run = PinnedLoop.fixpoint(s, e.count(), col("fresh"), maxDepth) {
        e.select(col("id"), col("parent").as("ancestor"), lit(1).as("depth"),
          lit(true).as("fresh"))
      } { closure =>
        closure.select(col("id"), col("ancestor"), col("depth"), lit(false).as("fresh"))
          .unionAll(closure.filter(col("fresh")).join(up, "ancestor")
            .select(col("id"), col("up").as("ancestor"), (col("depth") + 1).as("depth"),
              lit(true).as("fresh")))
      }
      require(run.converged,
        s"ancestor closure deeper than $maxDepth levels (or a parent cycle)")
      run.state.select(col("id"), col("ancestor"), col("depth"))
    }),

    // HITS hubs/authorities over the same hierarchy as q81's PageRank —
    // the OTHER classic link-analysis fixpoint: child→parent edges make
    // parents the authorities (score ∝ weighted subtree mass) and
    // mid-level nodes the hubs. Exact integer micro-units with
    // max-rescaled rounds (see operators/Hits.scala for why L2
    // normalization can't be oracle-hashed); the DuckDB oracle replays
    // the unrolled half-steps bit-for-bit.
    "q117_hits" -> ((s, d) =>
      graft.operators.Hits.hitsMicro(
        hierarchyNodes(s, d).filter(col("id") =!= col("parent")),
        srcCol = "id", dstCol = "parent", iters = 2)),
  )

  val oracle: Map[String, String] = Map(
    "q01_uniqueness_gate" ->
      "SELECT (count(distinct o_orderkey) = count(o_orderkey)) AS unique_ok FROM orders",

    "q02_monotonic_gate" ->
      """SELECT ((SELECT count(*) FROM lineitem) >= (SELECT count(*) FROM orders)) AS monotonic_ok""",

    "q03_duplicate_ids" ->
      "SELECT c_custkey AS id, count(*) AS cnt FROM customer GROUP BY c_custkey HAVING count(*) > 1",

    "q04_parent_edges" ->
      """SELECT l_orderkey AS orderkey,
        |  coalesce(
        |    list_filter(
        |      list(struct_pack(
        |             t := CASE WHEN l_returnflag = 'R' THEN 'Parent' ELSE 'related' END,
        |             i := 'P' || l_partkey)
        |           ORDER BY l_linenumber,
        |             CASE WHEN l_returnflag = 'R' THEN 'Parent' ELSE 'related' END,
        |             'P' || l_partkey),
        |      r -> lower(r.t) = 'parent')[-1].i,
        |    'O' || l_orderkey) AS parent
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,

    "q05_ultimate_parent_rollup" -> (nodesCte +
      """SELECT a.id AS id, c.parent AS ultimate_parent
        |FROM nodes a JOIN nodes b ON a.parent = b.id JOIN nodes c ON b.parent = c.id""".stripMargin),

    "q06_enrich_ultimate_parent" ->
      """SELECT c_custkey, 'R' || n_regionkey AS ultimate_parent, r_name AS region_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "q07_scalar_funcs" ->
      """SELECT p_partkey, lower(p_type) AS type_lower,
        |  ends_with(p_name, 'widget') AS is_widget,
        |  string_split(p_name, ' ')[-1] AS name_last,
        |  'B' || string_split(p_brand, '#')[-1] AS brand_num
        |FROM part""".stripMargin,

    "q08_pricing_summary" ->
      """WITH c AS (SELECT l_returnflag, l_linestatus,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS ep_c,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
        |    CAST(round(l_tax * 100) AS BIGINT) AS tax_c
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |  (sum(qty_c)::DOUBLE / 100) AS sum_qty,
        |  (sum(ep_c)::DOUBLE / 100) AS sum_base_price,
        |  (floor(sum(ep_c * (100 - disc_c))::DOUBLE / 10000 * 100 + 0.5) / 100) AS sum_disc_price,
        |  (floor(sum(ep_c * (100 - disc_c) * (100 + tax_c))::DOUBLE / 1000000 * 100 + 0.5) / 100) AS sum_charge,
        |  (floor(sum(qty_c)::DOUBLE / count(*) / 100 * 100 + 0.5) / 100) AS avg_qty,
        |  (floor(sum(ep_c)::DOUBLE / count(*) / 100 * 100 + 0.5) / 100) AS avg_price,
        |  count(*) AS count_order
        |FROM c GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q09_topk_orders" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total,
        |  strftime(o_orderdate, '%Y%m%d') AS odate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q10_revenue_by_nation" ->
      """SELECT n_name AS nation,
        |  (floor(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |             * (100 - CAST(round(l_discount * 100) AS BIGINT)))::DOUBLE
        |         / 10000 * 100 + 0.5) / 100) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    // Edge set = nodes minus self-loops; only region roots self-loop, so
    // the edges are exactly the nation + customer rows of the nodes CTE.
    "q81_pagerank" -> graft.operators.PageRank.oracleSql(
      """SELECT id AS src, parent AS dst FROM (
        |    SELECT 'N' || n_nationkey AS id, 'R' || n_regionkey AS parent FROM nation
        |    UNION ALL SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer) t""".stripMargin,
      iters = 3),

    "q139_ancestor_closure" -> (nodesCte +
      """, anc AS (
        |  WITH RECURSIVE walk AS (
        |    SELECT id, parent AS ancestor, 1 AS depth FROM nodes WHERE id <> parent
        |    UNION ALL
        |    SELECT w.id, n.parent, w.depth + 1
        |    FROM walk w JOIN nodes n ON w.ancestor = n.id AND n.id <> n.parent)
        |  SELECT * FROM walk)
        |SELECT id, ancestor, depth::INT AS depth FROM anc""".stripMargin),

    "q117_hits" -> graft.operators.Hits.oracleSql(
      """SELECT id AS src, parent AS dst FROM (
        |    SELECT 'N' || n_nationkey AS id, 'R' || n_regionkey AS parent FROM nation
        |    UNION ALL SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer) t""".stripMargin,
      iters = 2),

    "q71_degree_histogram" -> (nodesCte +
      """, deg AS (
        |  SELECT parent, count(*) AS in_degree FROM nodes
        |  WHERE id <> parent GROUP BY parent)
        |SELECT in_degree, count(*) AS n_nodes FROM deg GROUP BY in_degree""".stripMargin),
  )
}
