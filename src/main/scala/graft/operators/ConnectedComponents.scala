package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list by iterative min-label
  * propagation — the clustering step of fuzzy dedup (near-dup PAIRS become
  * duplicate CLUSTERS; each cluster keeps one canonical doc).
  *
  * Scale design: each round is one shuffle (join edges to current labels +
  * groupBy min); rounds needed = component diameter, and dup-cluster
  * diameters are tiny in practice (most clusters are pairs or triangles, so
  * 2–3 rounds). The rounds run on [[PinnedLoop.fixpoint]], like the
  * org-hierarchy fixpoint (`ops/UltimateParent.scala`). Large-diameter
  * graphs take [[contractive]], whose level count does not depend on the
  * diameter; `maxIter` bounds pathology.
  *
  * Reference analogy: the reference's only graph op is the parent-closure
  * walk (`ror_scripts/get_ultimate_parent.py:55-90`); this is the undirected
  * counterpart the LLM-pipeline extension needs.
  */
object ConnectedComponents {

  /** `edges`: two-column DataFrame of undirected edges (each pair listed
    * once, either orientation). Returns `(id, root)` for every vertex that
    * appears in at least one edge, where `root` is the minimum vertex id in
    * the component.
    */
  def minLabel(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val Array(ca, cb) = edges.columns
    val und = edges.select(col(ca).as("a"), col(cb).as("b"))
    // eager localCheckpoint, not persist: the loop reads sym once per
    // round from a hard leaf, and the PinnedLoop row count reads cheap
    // checkpoint blocks (counting a lazily-persisted relation costs a
    // second full pipeline evaluation — measured +1.7 s on q52)
    val sym = und.union(und.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    // round 1 fused into initialization: propagating identity labels once
    // is just min(id, min(neighbor)) — one groupBy instead of an identity
    // checkpoint plus a full join round (2 fewer jobs on the common
    // tiny-diameter dedup graphs); the loop runs the other maxIter - 1
    val run = PinnedLoop.fixpoint(edges.sparkSession, sym.count(), col("chg"), maxIter - 1,
        invariants = Seq(sym)) {
      sym.groupBy(col("a"))
        .agg(min(col("b")).as("nb"))
        .select(col("a").as("id"), least(col("a"), col("nb")).as("label"))
    } { labels =>
      val nbrMin = sym.join(labels, sym("b") === labels("id"))
        .groupBy(col("a")).agg(min(col("label")).as("nlabel"))
      // carry the per-row "label shrank" flag through the checkpoint so the
      // convergence check is a filter over checkpointed rows, not a second
      // join of consecutive label generations
      labels.as("l")
        .join(nbrMin, col("l.id") === nbrMin("a"), "left")
        .select(col("l.id").as("id"),
          least(col("l.label"), coalesce(col("nlabel"), col("l.label"))).as("label"),
          (col("nlabel") < col("l.label")).as("chg"))
    }
    // a silent non-converged return would hand every caller (q52's oracle
    // comparison) subtly wrong clusters — fail
    // loudly instead; components deeper than maxIter need [[contractive]]
    require(run.converged,
      s"min-label propagation did not converge in $maxIter rounds (labels " +
        s"shrinking per round: ${run.pending.mkString(", ")} — component " +
        "diameter exceeds maxIter)")
    run.state.select(col("id"), col("label").as("root"))
  }

  /** INCREMENTAL maintenance — the daily-ingest form: given the previous
    * clustering `baseComp(id, root)` ([[minLabel]]'s output over the base
    * edge set) and ONLY the new edges, produce the clustering of
    * base ∪ new without ever touching the base edge set again.
    *
    * Soundness: contracting each base component to its root preserves the
    * component structure of the union (base components are connected by
    * definition, so path-connectivity through one is equivalent to
    * touching its root). CC over the CONTRACTED new edges — each endpoint
    * mapped to its base root, or to itself if previously unseen — yields
    * the merge map, and min-label roots COMPOSE: each base root is
    * already the minimum of its members, so the minimum over a merged
    * group's contracted nodes IS the minimum over all underlying members.
    *
    * Cost ∝ |new edges| + |touched components| — at a 100 TB corpus with
    * daily batches this replaces a closure over the full historical pair
    * set with one over the day's pairs. Output shape = [[minLabel]]'s
    * `(id, root)` over every vertex of base ∪ new. */
  def incremental(baseComp: DataFrame, newEdges: DataFrame,
                  maxIter: Int = 20): DataFrame = {
    val Array(ca, cb) = newEdges.columns
    val e = newEdges.select(col(ca).as("a"), col(cb).as("b"))
    val m = baseComp.select(col("id"), col("root"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // contract: endpoints → base roots (fresh vertices stand for themselves)
    val mapped = e
      .join(m.select(col("id").as("a"), col("root").as("ra")), Seq("a"), "left")
      .join(m.select(col("id").as("b"), col("root").as("rb")), Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("a"),
        coalesce(col("rb"), col("b")).as("b"))
    // CC over the contracted graph — |nodes| = touched roots + fresh ids
    val merged = minLabel(mapped, maxIter)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // re-expand: members of remapped base roots follow them; untouched
    // base components pass through; contracted nodes that are NOT base
    // roots are fresh vertices and emit directly
    val remap = merged.select(col("id").as("root"), col("root").as("newRoot"))
    val base2 = m.join(remap, Seq("root"), "left")
      .select(col("id"), coalesce(col("newRoot"), col("root")).as("root"))
    val fresh = merged.join(m.select(col("id")), Seq("id"), "left_anti")
    // m (3 consumers) and merged (2) stay persisted under the library
    // caching contract: callers release with spark.catalog.clearCache()
    // once the result is consumed (the MinHashDedup.pairs precedent)
    base2.unionByName(fresh)
  }

  /** CONTRACTIVE min-label CC — the Kiveris-et-al. MapReduce-CC family:
    * per level, hash-partition the edge list and run an IN-MEMORY
    * union-find per partition (sound for ANY edge subset — partial merges
    * only ever under-merge), combine the per-partition roots by min, and
    * RELABEL the edges through the mapping; surviving cross-partition
    * edges (distinct, self-loops dropped) feed the next level, and once
    * the edge set fits `localCap` rows one single-task union-find
    * finishes connectivity exactly. Practical level count is 2–3 with
    * large per-level shrink, INDEPENDENT of graph diameter — a 50-hop
    * DBSCAN blob that costs [[minLabel]] ~50 shuffle rounds
    * contracts here in one local pass. Correctness: every per-partition
    * root is a component member; relabeling maps each original edge to a
    * label edge, so any original path maps to a label walk — components
    * never split — and self-loop dropping only removes already-merged
    * pairs. Min-combine across partitions preserves "label ∈ component",
    * and the global min id is a fixpoint of every level (union-by-min
    * roots any set containing it at itself), so the composed mapping
    * lands every vertex on its component minimum. All steps are
    * deterministic (hash partitioning, set-based union-find, min
    * aggregates), so the output is reproducible run to run.
    *
    * Returns (id, root) for every vertex incident to an edge, root = the
    * minimum vertex id of its component — [[minLabel]]'s exact contract. */
  def contractive(edges: DataFrame, localCap: Long = 4000000L,
      maxLevels: Int = 8): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val Array(ca, cb) = edges.columns
    var e = edges.select(col(ca).cast("long").as("a"), col(cb).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    var mapping: DataFrame = null
    var level = 0
    var n = e.count()
    // PinnedLoop scope (see its scaladoc); level sizes only shrink, so the
    // initial count is the honest bound for the whole drain
    PinnedLoop.scoped(spark, n) {
    while (n > 0) {
      level += 1
      require(level <= maxLevels,
        s"contractive CC did not drain in $maxLevels levels ($n edges left)")
      val single = n <= localCap
      val parted =
        if (single) e.coalesce(1)
        else e.repartition(col("a"))
      // LAZY checkpoints throughout the level: each still cuts the plan to
      // a constant-size RDD scan, and a non-final level's ONE action — the
      // surviving-edge count — computes m and e together, where the eager
      // form paid three jobs per level. Nothing here ever computes the
      // mapping: no count reads it, and the final (single-partition) level
      // runs no action at all, so that level's m and the whole returned
      // mapping chain stay lazy until the caller's first action computes
      // them (and caches their checkpoint blocks).
      val m = parted.as[(Long, Long)]
        .mapPartitions(unionFindPartition)
        .toDF("id", "r")
        // a vertex can surface in several partitions; any reported root is
        // a component member, so min keeps the invariant and determinism
        .groupBy(col("id")).agg(min(col("r")).as("root"))
        .localCheckpoint(false)
      mapping =
        if (mapping == null) m
        else mapping.as("p")
          .join(m.select(col("id").as("cid"), col("root").as("croot")),
            col("p.root") === col("cid"), "left")
          .select(col("p.id").as("id"),
            coalesce(col("croot"), col("p.root")).as("root"))
          .localCheckpoint(false)
      if (single) n = 0
      else {
        e = e.join(m.select(col("id").as("ja"), col("root").as("ra")),
            col("a") === col("ja"))
          .join(m.select(col("id").as("jb"), col("root").as("rb")),
            col("b") === col("jb"))
          .select(col("ra").as("a"), col("rb").as("b"))
          .filter(col("a") =!= col("b"))
          .distinct()
          .localCheckpoint(false)
        n = e.count()
      }
    }
    } // PinnedLoop.scoped
    if (mapping == null)
      spark.emptyDataset[(Long, Long)].toDF("id", "root")
    else mapping
  }

  /** In-memory union-find over one partition's edges: union-by-min (the
    * larger root attaches under the smaller) with path halving, so each
    * set's root is its minimum id — order-independent, hence
    * deterministic for a given partition content. Emits (id, root) for
    * every id seen. */
  private def unionFindPartition(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) {
        val gp = parent.getOrElse(p, p)
        parent(x) = gp // path halving
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    for ((a, b) <- it) {
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    // materialize keys first: find() mutates the map (path halving)
    val ids = parent.keys.toArray
    val withSelfRoots = ids.iterator.map(x => (x, find(x)))
    // roots that never appear as keys (pure minima) map to themselves via
    // the keys of parent only if they were ever attached; a root id that
    // was only ever a WINNER of unions has no parent entry — but it was
    // seen as an endpoint, so emit it explicitly
    val seen = scala.collection.mutable.LongMap.empty[Boolean]
    ids.foreach(x => seen(x) = true)
    val extra = ids.iterator.map(find).filter(r => !seen.contains(r)).distinct.map(r => (r, r))
    withSelfRoots ++ extra
  }
}
