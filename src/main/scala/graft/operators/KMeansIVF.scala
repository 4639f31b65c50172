package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.sources.IndexDir

/** IVF ANN with a LEARNED coarse quantizer: k-means centroids fitted with
  * driver-side Lloyd iterations on a deterministic hash-sample, replacing
  * the pre-existing-bucket variant ([[VectorOps.ivfTopK]]) whose quantizer
  * is whatever partition key the data already carries.
  *
  * Scale shape (the part that matters at 100 TB):
  *   - the FIT touches only a bounded sample: `md5(vec_id) % mod == 0`
  *     rows are collected to the driver, with the modulus derived from a
  *     cheap count so the expected sample is ≤ `sampleCap` rows at ANY
  *     corpus size ([[sampleModFor]]) — k-means quality needs a sample,
  *     not the corpus, and a fixed-size sample can't OOM the driver;
  *   - corpus bucket ASSIGNMENT is a pure map-side codegen'd expression —
  *     the k centroids are baked into the plan as literal arrays, so the
  *     corpus is never shuffled, never joined, never collected;
  *   - each query probes the `nprobe` nearest centroids and scans only
  *     those buckets, via the bounded [[graft.functions.TopKByScore]]
  *     aggregate (shuffle carries k rows per query).
  *
  * Determinism & oracle parity (every step replayable in DuckDB SQL):
  *   - sample membership via the portable md5 hash;
  *   - init = the `nClusters` sample vectors with the smallest ids;
  *   - assignment = argmax cosine, ties to the smallest centroid id;
  *   - update = per-dimension mean computed in integer micro-units
  *     (round(x·1e6) per member — exact long sums — then one correctly-
  *     rounded division): bit-exact regardless of accumulation order on
  *     EITHER engine, so no step of the fit depends on scan order. Empty
  *     clusters keep their previous centroid;
  *   - a FIXED number of Lloyd iterations (no data-dependent convergence
  *     test, which could diverge across engines at the last ulp).
  */
object KMeansIVF {

  /** The fit-sample modulus for a corpus of `n` rows under a fixed-SIZE
    * cap: `ceil(n / cap)`, so the expected `md5 % mod == 0` sample is
    * ≤ `cap` rows whatever `n` is. A fixed mod would make the collect a
    * fixed FRACTION — 100× data ⇒ 100× driver memory ⇒ OOM; deriving the
    * mod from a cheap `count()` keeps the driver bounded at any scale
    * while staying deterministic and DuckDB-replayable (the same ceil
    * division is emitted as a scalar subquery in [[fitReplayCtes]]).
    * Pure integer arithmetic — `(n + cap - 1) / cap` — so both engines
    * compute the identical modulus. */
  def sampleModFor(n: Long, cap: Long): Int = {
    require(cap > 0, s"sample cap must be positive, got $cap")
    math.max(1L, (n + cap - 1) / cap).toInt
  }

  /** Left-to-right double fold — the summation order every other engine
    * path (DotProduct codegen, DuckDB list_cosine_similarity) uses. */
  private[operators] def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private[operators] def cosineSeq(a: Array[Double], b: Array[Double]): Double =
    dotSeq(a, b) / (math.sqrt(dotSeq(a, a)) * math.sqrt(dotSeq(b, b)))

  /** round-half-away-from-zero to a whole number — what DuckDB's
    * std::round-based `round(x)` computes. NOT `floor(x + 0.5)`: the
    * addition itself rounds (e.g. 0.49999999999999994 + 0.5 == 1.0), which
    * would disagree with the oracle half-ulp below each .5 boundary. The
    * `x - floor(x)` / `ceil(x) - x` forms are exact (the operands are
    * within a factor of two, so the subtraction is error-free). */
  private[graft] def roundHalfAway(x: Double): Long =
    if (x >= 0) {
      val f = math.floor(x)
      (if (x - f >= 0.5) f + 1 else f).toLong
    } else {
      val c = math.ceil(x)
      (if (c - x >= 0.5) c - 1 else c).toLong
    }

  /** Lloyd iterations over an id-sorted sample. Returns
    * `min(nClusters, sample.length)` centroid vectors (cid = array index) —
    * a sample smaller than nClusters degrades to fewer centroids, exactly
    * like the oracle replay's `ORDER BY id LIMIT nClusters`. */
  def fit(sample: Array[(Long, Array[Double])], nClusters: Int, iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "k-means sample is empty")
    val k = math.min(nClusters, sample.length)
    val sorted = sample.sortBy(_._1)
    var centroids = sorted.take(k).map(_._2)
    for (_ <- 1 to iters) {
      val assign = sorted.map { case (_, v) =>
        var best = 0; var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          val s = cosineSeq(v, centroids(c))
          // NaN → +inf, same rule as KMeansNearestUtil.nearest (DuckDB
          // sorts NaN above every number in the replay's ORDER BY DESC)
          val sim = if (java.lang.Double.isNaN(s)) Double.PositiveInfinity else s
          if (sim > bestSim) { bestSim = sim; best = c } // ties keep smaller cid
          c += 1
        }
        (best, v)
      }
      centroids = Array.tabulate(k) { c =>
        val members = assign.collect { case (`c`, v) => v }
        if (members.isEmpty) centroids(c)
        else {
          // ORDER-INDEPENDENT mean: quantize each coordinate to integer
          // micro-units (round(x·1e6), half away from zero), sum as exact
          // longs, then one correctly-rounded double division — no
          // accumulation-order sensitivity anywhere, so DuckDB's avg-scan
          // order can't diverge from this by even an ulp
          val dims = members.head.length
          Array.tabulate(dims) { d =>
            var sumQ = 0L
            members.foreach(m => sumQ += roundHalfAway(m(d) * 1e6))
            roundHalfAway(sumQ.toDouble / members.length) / 1e6
          }
        }
      }
    }
    centroids
  }

  /** Map-side centroid assignment via the [[graft.functions.NearestCentroids]]
    * expression: bucket = argmax cosine (smallest cid on ties), centroids in
    * the codegen references array. No join, no shuffle: the corpus side
    * stays embarrassingly parallel, which is the property that matters at
    * 100 TB. Input must have columns `(neighbor_id, cv: array<double>)`. */
  def assignBuckets(c: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    c.withColumn("bucket",
        element_at(graft.functions.VectorExpressions.nearestCentroids(col("cv"), centroids, 1), 1))
      .select(col("neighbor_id"), col("cv"), col("bucket"))

  /** Fit on the hash-sample of `corpus`, then ANN top-k for each query.
    * Output `(query_id, neighbor_id, rank, cosine)` — same shape as
    * [[VectorOps.topK]], recall < 1.0 by design. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      k: Int, nprobe: Int,
      nClusters: Int = 10, iters: Int = 4, sampleCap: Long = 10000): DataFrame = {
    val c = corpus.select(
      col(idCol).as("neighbor_id"), VectorOps.asDouble(col(vecCol)).as("cv"))

    // 1. FIT — bounded driver-side collect of the deterministic sample.
    // The modulus derives from a cheap count (parquet metadata) so the
    // collect stays ≤ sampleCap rows at ANY corpus size.
    val sampleMod = sampleModFor(c.count(), sampleCap)
    val sample = c
      .filter(pmod(TextHash.md5Long(col("neighbor_id").cast("string")), lit(sampleMod)) === 0)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val centroids = fit(sample, nClusters, iters)

    // 2. ASSIGN the corpus map-side (see assignBuckets).
    val assigned = assignBuckets(c, centroids)

    // 3. PROBE — top-nprobe centroids per query, selected MAP-SIDE by the
    // same expression (sim desc, cid asc — the oracle's ORDER BY): no join,
    // no window, no shuffle on the query side.
    val q = queries.select(col(idCol).as("query_id"), VectorOps.asDouble(col(vecCol)).as("qv"))
    val probed = q.select(col("query_id"), col("qv"),
      explode(graft.functions.VectorExpressions.nearestCentroids(col("qv"), centroids, nprobe))
        .as("bucket"))

    // 4. SCAN only the probed buckets; bounded top-k aggregate.
    broadcast(probed)
      .join(assigned, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("cv")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topK(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.payload").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        graft.functions.PortableMath.roundPortable(col("t.score"), 3).as("cosine"))
  }

  /** ALL-CORPUS self-kNN through the IVF structure — the kNN-GRAPH build
    * (q301). Unlike [[ivfTopK]], the query side IS the corpus, so nothing
    * may broadcast: probe rows (corpus × nprobe, map-side expression) and
    * bucket assignments (map-side) meet in a SHUFFLE hash join on the
    * bucket key, and candidate volume is Σ_b |probes_b|·|bucket_b| —
    * bounded by bucket sizes, never |corpus|². The `shuffle_hash` hint
    * pins the plan: AQE would happily broadcast one corpus-derived side
    * at test scale, which is exactly the plan that OOMs at 100 TB (and
    * nClusters scales with corpus size there, keeping buckets bounded).
    * Output `(query_id, neighbor_id, rank, cosine)`, recall < 1.0 by
    * design; the oracle replays fit + assign + probe via [[fitReplayCtes]]
    * (see `DedupQueries.q301`). */
  def selfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int,
      nClusters: Int = 10, iters: Int = 4, sampleCap: Long = 10000): DataFrame = {
    val c = corpus.select(
      col(idCol).as("neighbor_id"), VectorOps.asDouble(col(vecCol)).as("cv"))
    val sampleMod = sampleModFor(c.count(), sampleCap)
    val sample = c
      .filter(pmod(TextHash.md5Long(col("neighbor_id").cast("string")), lit(sampleMod)) === 0)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val centroids = fit(sample, nClusters, iters)
    val assigned = assignBuckets(c, centroids)
    val probed = c.select(col("neighbor_id").as("query_id"), col("cv").as("qv"))
      .select(col("query_id"), col("qv"),
        explode(graft.functions.VectorExpressions.nearestCentroids(col("qv"), centroids, nprobe))
          .as("bucket"))
    probed.hint("shuffle_hash")
      .join(assigned, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("cv")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topK(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.payload").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        graft.functions.PortableMath.roundPortable(col("t.score"), 3).as("cosine"))
  }

  /** Persist an IVF index: the corpus written `partitionBy(bucket)` (one
    * directory per centroid bucket) plus the centroids as a JSON sidecar.
    * Repeated query batches against the index then read ONLY the probed
    * buckets from storage — partition pruning turns nprobe/k into a disk-
    * level saving, the layout you want under 100 TB of embeddings.
    * Also records the build's assignment-quality statistic (row count +
    * Σ floor(cos·10⁶ + 0.5) to the assigned centroid) as `stats.json` —
    * the baseline [[appendIndex]]'s drift gate compares against. Runs
    * inside the [[IndexDir.rebuild]] scope, which clears any previous
    * appends (they belonged to the old centroid generation). */
  def writeIndex(
      corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      nClusters: Int = 10, iters: Int = 4, sampleCap: Long = 10000): Array[Array[Double]] =
    IndexDir.rebuild(dir) {
      val c = corpus.select(
        col(idCol).as("neighbor_id"), VectorOps.asDouble(col(vecCol)).as("cv"))
      val sampleMod = sampleModFor(c.count(), sampleCap)
      val sample = c
        .filter(pmod(TextHash.md5Long(col("neighbor_id").cast("string")), lit(sampleMod)) === 0)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val centroids = fit(sample, nClusters, iters)
      val assigned = assignBuckets(c, centroids)
        .persist() // data write + stats agg both consume it
      assigned.write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/data")
      val st = assigned.agg(count(lit(1)), sum(microCol(centroids))).head()
      assigned.unpersist()
      (centroids, Seq(
        "centroids.json" -> centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"),
        "stats.json" -> s"""{"n":${st.getLong(0)},"sumMicro":${st.getLong(1)}}"""))
    }

  /** Portably-rounded micro-unit assignment cosine of a `(cv, bucket)`
    * row to its own centroid: `floor(cos·10⁶ + 0.5)` — floor and IEEE
    * multiply are bit-identical cross-engine (the q18 ratio-rounding
    * rule), and the centroid lookup is a literal-array element_at, so the
    * statistic is one map-side expression. */
  private[operators] def microCol(centroids: Array[Array[Double]]): Column = {
    val cents = array(centroids.map(cv => array(cv.map(lit(_)): _*)): _*)
    floor(VectorOps.cosine(col("cv"), element_at(cents, col("bucket") + 1))
      * lit(1000000.0) + lit(0.5)).cast("long")
  }

  /** One append's outcome: previous index state, the batch's assignment
    * quality, and the integer drift verdict. `driftBp` is the batch's
    * mean assigned-cosine relative to the index's previous mean, in basis
    * points: `(batchSum·prevN·10⁴) div (prevSum·nBatch)` over exact
    * micro-unit longs (BigInt product — no overflow, no float). The
    * baseline mean is measured on the data the fit was TRAINED on, so an
    * iid batch already lands below 10000 bp (the fit-generalization gap —
    * ~7000 bp on this corpus); `rebuild` fires only past the calibrated
    * halving cut (<5000 bp, or >20000 — either direction means the batch
    * is not the indexed distribution). */
  final case class AppendResult(
      nPrev: Long, nBatch: Long, prevSumMicro: Long, batchSumMicro: Long,
      driftBp: Long, rebuild: Boolean)

  /** The shared cosine-family drift verdict ([[appendIndex]] and
    * [[NswGraph.appendIndex]]): batch mean assigned/attached micro-cosine
    * vs the running mean in exact basis points, rebuild outside
    * [5000, 20000] — either direction means the batch is not the indexed
    * distribution. */
  private[operators] def driftVerdict(
      pn: Long, ps: Long, bn: Long, bs: Long): AppendResult = {
    require(ps > 0 && bs > 0 && pn > 0 && bn > 0,
      s"drift gate needs positive counts and micro-sums, got prev=($pn,$ps) batch=($bn,$bs)")
    val bp = (BigInt(bs) * pn * 10000 / (BigInt(ps) * bn)).toLong
    AppendResult(pn, bn, ps, bs, bp, bp < 5000 || bp > 20000)
  }

  /** Append a batch of NEW vectors to a persisted index without refitting:
    * the batch is assigned to the EXISTING centroids map-side and lands
    * bucket-partitioned through the [[IndexDir.append]] batch protocol
    * (`appends/<batchId>/`, `_done` commit, idempotent replay, crashed
    * partials wiped).
    *
    * The DRIFT GATE is what makes append-without-refit honest: centroids
    * fitted on yesterday's corpus quietly degrade as the distribution
    * moves, so each append compares its mean assigned-cosine against the
    * index's running mean (base build + previously committed appends,
    * summed from per-append stats fragments — no global mutable state,
    * no corpus rescan) and flags `rebuild` outside [5000, 20000] bp. */
  def appendIndex(
      batch: DataFrame, idCol: String, vecCol: String, dir: String,
      batchId: String): AppendResult =
    IndexDir.append(dir, batchId, "sumMicro", AppendResult) { data =>
      val centroids = readCentroids(dir)
      val c = batch.select(
        col(idCol).as("neighbor_id"), VectorOps.asDouble(col(vecCol)).as("cv"))
      val assigned = assignBuckets(c, centroids).persist()
      assigned.write.mode("overwrite").partitionBy("bucket").parquet(data)
      val st = assigned.agg(count(lit(1)), sum(microCol(centroids))).head()
      assigned.unpersist()
      (st.getLong(0), st.getLong(1))
    } { case ((pn, ps), (bn, bs)) => driftVerdict(pn, ps, bn, bs) }

  /** Fold the base tree + every committed append into a FRESH index at
    * `outDir` — the small-file compaction of the append lifecycle (daily
    * appends accumulate one subtree each; probes union them all, and at
    * some point the union's file count costs more than one rewrite). See
    * [[IndexDir.compact]]: the source is never modified, the centroid
    * generation carries over unchanged, so probes against `outDir` are
    * IDENTICAL to probes against the uncompacted source (spec-proven). */
  def compactAppends(spark: org.apache.spark.sql.SparkSession,
                     dir: String, outDir: String): Unit =
    IndexDir.compact(spark, dir, outDir, Seq("centroids.json"), "sumMicro")

  def readCentroids(dir: String): Array[Array[Double]] = {
    // `_ready` gate: a (re)build that crashed between the data overwrite
    // and the centroids write would otherwise serve NEW bucket assignments
    // against the OLD centroids — silently wrong neighbors
    IndexDir.requireReady(dir)
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/centroids.json"))
    // minimal parser for the [[d,d,...],[...]] layout written above
    json.trim.stripPrefix("[[").stripSuffix("]]").split("\\],\\[")
      .map(_.split(",").map(_.trim.toDouble))
  }

  /** ANN top-k against a persisted index. The distinct probe-bucket set is
    * bounded by nClusters (not by |queries|), so it is collected and pushed
    * as a STATIC partition filter — `PartitionFilters: [bucket IN (...)]`
    * in the scan, only those directories read. */
  def indexTopK(
      queries: DataFrame, indexDir: String,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val centroids = readCentroids(indexDir)
    val q = queries.select(col(idCol).as("query_id"), VectorOps.asDouble(col(vecCol)).as("qv"))
    // evaluate the probe projection ONCE: the rows are bounded by
    // |queries| × nprobe (the query side is broadcast-small by contract),
    // so collecting them yields both the bucket set for the static
    // partition filter and a local relation for the broadcast join —
    // instead of one job to learn the buckets plus a full re-evaluation
    // inside the join
    val probedPlan = q.select(col("query_id"), col("qv"),
      explode(graft.functions.VectorExpressions.nearestCentroids(col("qv"), centroids, nprobe))
        .as("bucket"))
    val probedRows = probedPlan.collect()
    val buckets = probedRows.map(_.getInt(2)).distinct.sorted // ≤ nClusters values
    val probed = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(probedRows: _*)),
      probedPlan.schema)
    // one read per committed root (base + _done appends), unioned: a
    // multi-path read would demand a single discovery root, and partition
    // filters push through the Union into every child scan anyway
    val data = IndexDir.dataPaths(indexDir).map(p => spark.read.parquet(p))
      .reduce(_ unionByName _)
      .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
    broadcast(probed)
      .join(data, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("cv")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topK(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.payload").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        graft.functions.PortableMath.roundPortable(col("t.score"), 3).as("cosine"))
  }

  /** The oracle cosine — explicit dot/(norm·norm) instead of
    * list_cosine_similarity: matches the Scala fits' operation sequence
    * exactly (dot, two sqrts, one multiply, one divide — left-to-right
    * folds), so an engine's internal cosine variant can't flip a rank at
    * the last ulp. ONE definition, shared by every ANN replay
    * (fitReplayCtes, oracleSql, NswGraph, q301) — hash-parity-critical
    * expressions must never fork. */
  def cosSql(a: String, b: String): String =
    s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"

  /** The replay PREFIX shared by the ANN oracle and the q108 cluster-
    * quality oracle: sample → init → each unrolled Lloyd round → corpus
    * assignment. Ends INSIDE the WITH list (trailing comma), with CTEs
    * `assigned(neighbor_id, cv2, bucket)` and `c$iters(cid, cv)` (the
    * final centroids) in scope for the caller's continuation. */
  def fitReplayCtes(
      table: String, idCol: String, vecCol: String,
      nClusters: Int, iters: Int, sampleCap: Long): String =
    "WITH " + fitReplayCtesOver(table, idCol, vecCol, "", nClusters, iters, sampleCap)

  /** [[fitReplayCtes]] generalized to any relation and a CTE-name PREFIX,
    * so one oracle can replay TWO independent fits (e.g. the NSW routing
    * layer's hub-adjacency fit next to the corpus-level incumbent fit in
    * q327) without CTE-name collisions. Emits `${prefix}e`, `${prefix}s`,
    * `${prefix}c0..c$iters`, `${prefix}a$i`, `${prefix}m$i`,
    * `${prefix}assigned` — with prefix "" the text is byte-identical to
    * the historical [[fitReplayCtes]] body (hash-parity with every
    * existing oracle). Starts and ends INSIDE a WITH list. */
  def fitReplayCtesOver(
      rel: String, idCol: String, vecCol: String, prefix: String,
      nClusters: Int, iters: Int, sampleCap: Long): String = {
    val E = s"${prefix}e"
    // `$E` renames $idCol to `id`, so the sample predicate hashes `id`;
    // the modulus replays [[sampleModFor]]'s integer ceil division as a
    // scalar subquery over the same relation the Scala side counts
    val sampleH = TextHash.md5LongSql("id::VARCHAR")
    val sampleMod =
      s"(SELECT greatest(1, (count(*) + ${sampleCap - 1}) // $sampleCap) FROM $E)"
    def cos(a: String, b: String): String = cosSql(a, b)
    val sb = new StringBuilder
    sb ++= s"$E AS (SELECT $idCol AS id, $vecCol::DOUBLE[] AS v FROM $rel),\n"
    sb ++= s"${prefix}s AS (SELECT id, v FROM $E WHERE $sampleH % $sampleMod = 0),\n"
    sb ++= s"${prefix}c0 AS (SELECT (row_number() OVER (ORDER BY id))::INT - 1 AS cid, v AS cv\n"
    sb ++= s"       FROM (SELECT id, v FROM ${prefix}s ORDER BY id LIMIT $nClusters)),\n"
    for (i <- 1 to iters) {
      val prev = s"${prefix}c${i - 1}"
      sb ++= s"${prefix}a$i AS (SELECT id, v, cid FROM (\n"
      sb ++= s"  SELECT s.id, s.v, c.cid,\n"
      sb ++= s"    row_number() OVER (PARTITION BY s.id\n"
      sb ++= s"      ORDER BY ${cos("s.v", "c.cv")} DESC, c.cid) AS rn\n"
      sb ++= s"  FROM ${prefix}s s CROSS JOIN $prev c) WHERE rn = 1),\n"
      sb ++= s"${prefix}m$i AS (SELECT cid, list(m ORDER BY pos) AS cv FROM (\n"
      // integer micro-unit mean (see fit): exact long sum, one correctly-
      // rounded division — accumulation order cannot matter
      sb ++= s"  SELECT cid, pos, round(sum(CAST(round(x * 1000000) AS BIGINT))::DOUBLE / count(*)) / 1000000 AS m FROM (\n"
      sb ++= s"    SELECT cid, unnest(v) AS x, unnest(range(1, len(v)+1)) AS pos FROM ${prefix}a$i)\n"
      sb ++= s"  GROUP BY cid, pos) GROUP BY cid),\n"
      sb ++= s"${prefix}c$i AS (SELECT c.cid, coalesce(m.cv, c.cv) AS cv\n"
      sb ++= s"       FROM $prev c LEFT JOIN ${prefix}m$i m ON c.cid = m.cid),\n"
    }
    val fin = s"${prefix}c$iters"
    sb ++= s"${prefix}assigned AS (SELECT id AS neighbor_id, v AS cv2, cid AS bucket FROM (\n"
    sb ++= s"  SELECT e.id, e.v, c.cid,\n"
    sb ++= s"    row_number() OVER (PARTITION BY e.id\n"
    sb ++= s"      ORDER BY ${cos("e.v", "c.cv")} DESC, c.cid) AS rn\n"
    sb ++= s"  FROM $E e CROSS JOIN $fin c) WHERE rn = 1),\n"
    sb.toString
  }

  /** Shared prefix of the APPEND oracles: fit on the `basePred` subset
    * only (replaying writeIndex-on-base), then assign the FULL table —
    * base rows and appended rows alike — to those centroids, exactly what
    * the index tree looks like after [[appendIndex]]. Ends inside the
    * WITH list with `u(id, v)` (the union) and `uassigned(neighbor_id,
    * cv2, bucket)` in scope. */
  private[operators] def appendPrefixCtes(
      table: String, idCol: String, vecCol: String, basePred: String,
      nClusters: Int, iters: Int, sampleCap: Long): String = {
    def cos(a: String, b: String): String = cosSql(a, b)
    val fin = s"c$iters"
    val sb = new StringBuilder
    sb ++= "WITH " + fitReplayCtesOver(
      s"(SELECT $idCol, $vecCol FROM $table WHERE $basePred)",
      idCol, vecCol, "", nClusters, iters, sampleCap)
    sb ++= s"u AS (SELECT $idCol AS id, $vecCol::DOUBLE[] AS v FROM $table),\n"
    sb ++= s"uassigned AS (SELECT id AS neighbor_id, v AS cv2, cid AS bucket FROM (\n"
    sb ++= s"  SELECT u.id, u.v, c.cid,\n"
    sb ++= s"    row_number() OVER (PARTITION BY u.id\n"
    sb ++= s"      ORDER BY ${cos("u.v", "c.cv")} DESC, c.cid) AS rn\n"
    sb ++= s"  FROM u CROSS JOIN $fin c) WHERE rn = 1),\n"
    sb.toString
  }

  /** DuckDB replay of probe-after-append: the fit is learned on the BASE
    * subset, the whole table (base + batch) is assigned to those
    * centroids, queries probe as usual — hash-equality proves
    * [[appendIndex]]'s committed tree serves exactly the no-refit union
    * index. */
  def appendOracleSql(
      table: String, idCol: String, vecCol: String, basePred: String,
      queryPred: String, k: Int, nprobe: Int,
      nClusters: Int = 10, iters: Int = 4, sampleCap: Long = 10000): String = {
    def cos(a: String, b: String): String = cosSql(a, b)
    val fin = s"c$iters"
    val sb = new StringBuilder
    sb ++= appendPrefixCtes(table, idCol, vecCol, basePred, nClusters, iters, sampleCap)
    sb ++= s"q AS (SELECT id AS query_id, v AS qv FROM u WHERE $queryPred),\n"
    sb ++= s"probes AS (SELECT query_id, qv, cid AS bucket FROM (\n"
    sb ++= s"  SELECT q.query_id, q.qv, c.cid,\n"
    sb ++= s"    row_number() OVER (PARTITION BY q.query_id\n"
    sb ++= s"      ORDER BY ${cos("q.qv", "c.cv")} DESC, c.cid) AS prank\n"
    sb ++= s"  FROM q CROSS JOIN $fin c) WHERE prank <= $nprobe),\n"
    sb ++= s"scored AS (SELECT p.query_id, a.neighbor_id,\n"
    sb ++= s"    ${cos("p.qv", "a.cv2")} AS cos\n"
    sb ++= s"  FROM probes p JOIN uassigned a ON p.bucket = a.bucket\n"
    sb ++= s"    AND p.query_id != a.neighbor_id),\n"
    sb ++= s"ranked AS (SELECT query_id, neighbor_id, cos,\n"
    sb ++= s"    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank\n"
    sb ++= s"  FROM scored)\n"
    sb ++= s"SELECT query_id, neighbor_id, rank::INT AS rank, (floor(cos * 1000 + 0.5) / 1000) AS cosine\n"
    sb ++= s"FROM ranked WHERE rank <= $k"
    sb.toString
  }

  /** DuckDB replay of the append DRIFT GATE: base-vs-batch mean assigned
    * micro-cosines and the integer basis-point verdict — every number
    * exact, so the gate itself is hash-checked. */
  def appendDriftOracleSql(
      table: String, idCol: String, vecCol: String, basePred: String,
      nClusters: Int = 10, iters: Int = 4, sampleCap: Long = 10000): String = {
    def cos(a: String, b: String): String = cosSql(a, b)
    val fin = s"c$iters"
    val micro = s"CAST(floor(${cos("a.cv2", "c.cv")} * 1000000 + 0.5) AS BIGINT)"
    val sb = new StringBuilder
    sb ++= appendPrefixCtes(table, idCol, vecCol, basePred, nClusters, iters, sampleCap)
    sb ++= s"scoredu AS (SELECT a.neighbor_id, $micro AS micro,\n"
    sb ++= s"    (a.neighbor_id IN (SELECT $idCol FROM $table WHERE $basePred)) AS is_base\n"
    sb ++= s"  FROM uassigned a JOIN $fin c ON a.bucket = c.cid),\n"
    sb ++= s"bstat AS (SELECT count(*)::BIGINT AS pn, sum(micro)::BIGINT AS ps\n"
    sb ++= s"  FROM scoredu WHERE is_base),\n"
    sb ++= s"qstat AS (SELECT count(*)::BIGINT AS bn, sum(micro)::BIGINT AS bs\n"
    sb ++= s"  FROM scoredu WHERE NOT is_base)\n"
    sb ++= s"SELECT pn AS n_prev, bn AS n_batch, ps AS prev_sum_micro, bs AS batch_sum_micro,\n"
    sb ++= s"  ((bs::HUGEINT * pn * 10000) // (ps::HUGEINT * bn))::BIGINT AS drift_bp,\n"
    sb ++= s"  (((bs::HUGEINT * pn * 10000) // (ps::HUGEINT * bn)) < 5000 OR\n"
    sb ++= s"   ((bs::HUGEINT * pn * 10000) // (ps::HUGEINT * bn)) > 20000) AS rebuild\n"
    sb ++= s"FROM bstat, qstat"
    sb.toString
  }

  /** DuckDB replay of the FULL pipeline — sample, init, each unrolled Lloyd
    * iteration, corpus assignment, probe, scan — over the same parquet. */
  def oracleSql(
      table: String, idCol: String, vecCol: String, queryPred: String,
      k: Int, nprobe: Int,
      nClusters: Int = 10, iters: Int = 4, sampleCap: Long = 10000): String = {
    def cos(a: String, b: String): String = cosSql(a, b)
    val fin = s"c$iters"
    val sb = new StringBuilder
    sb ++= fitReplayCtes(table, idCol, vecCol, nClusters, iters, sampleCap)
    sb ++= s"q AS (SELECT id AS query_id, v AS qv FROM e WHERE $queryPred),\n"
    sb ++= s"probes AS (SELECT query_id, qv, cid AS bucket FROM (\n"
    sb ++= s"  SELECT q.query_id, q.qv, c.cid,\n"
    sb ++= s"    row_number() OVER (PARTITION BY q.query_id\n"
    sb ++= s"      ORDER BY ${cos("q.qv", "c.cv")} DESC, c.cid) AS prank\n"
    sb ++= s"  FROM q CROSS JOIN $fin c) WHERE prank <= $nprobe),\n"
    sb ++= s"scored AS (SELECT p.query_id, a.neighbor_id,\n"
    sb ++= s"    ${cos("p.qv", "a.cv2")} AS cos\n"
    sb ++= s"  FROM probes p JOIN assigned a ON p.bucket = a.bucket\n"
    sb ++= s"    AND p.query_id != a.neighbor_id),\n"
    sb ++= s"ranked AS (SELECT query_id, neighbor_id, cos,\n"
    sb ++= s"    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank\n"
    sb ++= s"  FROM scored)\n"
    sb ++= s"SELECT query_id, neighbor_id, rank::INT AS rank, (floor(cos * 1000 + 0.5) / 1000) AS cosine\n"
    sb ++= s"FROM ranked WHERE rank <= $k"
    sb.toString
  }
}
