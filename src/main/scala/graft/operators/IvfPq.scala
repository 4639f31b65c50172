package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

import graft.functions.{KMeansNearestUtil, PqExpressions, TextHash, TopKAggregate, VectorExpressions}
import graft.sources.IndexDir

/** The composed billion-scale ANN layout: an IVF-partitioned index of
  * product-quantization CODES — [[KMeansIVF]]'s routing (learned coarse
  * centroids, one storage partition per bucket, static partition-filter
  * probes) carrying [[ProductQuantizer]]'s memory side (8×4-bit code words
  * instead of raw vectors).
  *
  * Query path = the three-stage funnel every production vector store runs:
  *   1. ROUTE — nprobe nearest coarse centroids per query (driver-side on
  *      the bounded query batch; centroid sidecar is nClusters rows);
  *   2. ADC SCAN — read ONLY the probed bucket directories (partition
  *      pruning) and ONLY the code column (the raw vector never exists in
  *      the index), approximate L2² as Σ lut[sub][code] with each query's
  *      precomputed integer lookup table; keep a bounded `shortlist` per
  *      query via [[graft.functions.TopKByScore]];
  *   3. EXACT RE-RANK — join the (|queries|·shortlist)-row short list
  *      back to the primary store by id (broadcast-hash: the corpus is
  *      streamed, never shuffled) and rank the true integer micro² L2.
  *
  * Why this is the 100 TB plan: the index scan reads codes at m·log2(k)
  * bits per vector (32× smaller than the float vectors), touches only
  * nprobe/nClusters of the corpus directories, and the only full-width
  * vector reads are the short-list point lookups.
  *
  * Determinism: both fits ride bounded md5 hash-samples
  * ([[KMeansIVF.sampleModFor]]); ADC and re-rank distances are exact
  * integer micro² (codes < 2^47 sums — double-exact for TopKByScore);
  * ties break (distance asc, id asc) everywhere. [[oracleSql]] replays the
  * ENTIRE pipeline — both fits, routing, ADC, re-rank — in DuckDB by
  * composing [[KMeansIVF.fitReplayCtes]] with
  * [[ProductQuantizer.oracleCtes]] (their CTE namespaces are disjoint).
  */
object IvfPq {

  /** Write the composed index under `dir`:
    * `data/` = parquet partitioned by IVF bucket with rows
    * `(neighbor_id, codes: array<int>)` — NO vector column — plus the
    * coarse centroids and PQ codebooks as JSON sidecars. Returns
    * (centroids, codebooks) for callers that probe in-process. */
  def writeIndex(
      corpus: DataFrame, idCol: String, vecCol: String, dir: String,
      nClusters: Int = 10, ivfIters: Int = 4, m: Int = 8, kCodes: Int = 16,
      pqIters: Int = 3, ivfSampleCap: Long = 10000, pqSampleCap: Long = 500)
      : (Array[Array[Double]], Array[Array[Array[Long]]]) = {
    // the IndexDir rebuild scope: lock, `_ready` revoked first, appends of
    // the old centroid/codebook generation cleared, sidecars atomic,
    // `_ready` last — data and sidecars never disagree for a reader
    IndexDir.rebuild(dir) {
      val c = corpus.select(
          col(idCol).as("neighbor_id"), VectorOps.asDouble(col(vecCol)).as("cv"))
        .withColumn("vq", ProductQuantizer.micro(col("cv")))
        .persist() // count + two bounded sample collects + the index write

      val n = c.count()
      val ivfMod = KMeansIVF.sampleModFor(n, ivfSampleCap)
      val ivfSample = c
        .filter(pmod(TextHash.md5Long(col("neighbor_id").cast("string")), lit(ivfMod)) === 0)
        .select(col("neighbor_id"), col("cv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val centroids = KMeansIVF.fit(ivfSample, nClusters, ivfIters)

      val pqMod = KMeansIVF.sampleModFor(n, pqSampleCap)
      val pqSample = c
        .filter(pmod(TextHash.md5Long(col("neighbor_id").cast("string")), lit(pqMod)) === 0)
        .select(col("neighbor_id"), col("vq")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      val cb = ProductQuantizer.fit(pqSample, m, kCodes, pqIters)

      // bucket assignment AND code encoding are both map-side codegen'd
      // expressions — the corpus is scanned once, never shuffled or joined
      val encoded = encode(c, centroids, cb).persist() // index write + error baseline agg
      val st = writeEncoded(encoded, s"$dir/data")
      encoded.unpersist()
      c.unpersist()
      // the append DRIFT baseline: exact integer micro² quantization error
      // of the build corpus under ITS OWN codebooks — what a batch encoded
      // against the frozen codebooks is compared to ([[appendIndex]])
      ((centroids, cb), Seq(
        "centroids.json" -> centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"),
        "codebooks.json" -> cb.map(_.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"))
          .mkString("[", ",", "]"),
        "stats.json" -> s"""{"n":${st._1},"sumErr":${st._2}}"""))
    }
  }

  /** `(neighbor_id, codes, err, bucket)`: coarse bucket + PQ codes of
    * `(neighbor_id, cv, vq)` rows against a fixed centroid/codebook
    * generation — the ONE encoding of build and append. */
  private def encode(c: DataFrame, centroids: Array[Array[Double]],
      cb: Array[Array[Array[Long]]]): DataFrame =
    c.withColumn("bucket",
        element_at(VectorExpressions.nearestCentroids(col("cv"), centroids, 1), 1))
      .withColumn("pq", PqExpressions.pqEncodeMicro(col("vq"), cb))
      .select(col("neighbor_id"), col("pq.codes").as("codes"),
        col("pq.err").as("err"), col("bucket"))

  /** Write encoded rows (no `err` column) bucket-partitioned to `path`;
    * returns their (count, Σ err) stats. */
  private def writeEncoded(encoded: DataFrame, path: String): (Long, Long) = {
    encoded.select(col("neighbor_id"), col("codes"), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    val st = encoded.agg(count(lit(1)), sum(col("err"))).head()
    (st.getLong(0), st.getLong(1))
  }

  def readCodebooks(dir: String): Array[Array[Array[Long]]] = {
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/codebooks.json"))
    json.trim.stripPrefix("[[[").stripSuffix("]]]").split("\\]\\],\\[\\[")
      .map(_.split("\\],\\[").map(_.split(",").map(_.trim.toLong)))
  }

  /** Probe a persisted index: route → pruned ADC code scan → exact
    * re-rank against `corpus` (the primary store with the raw vectors).
    * `queries` must be bounded by contract (the [[KMeansIVF.indexTopK]]
    * posture — derive it with a [[KMeansIVF.sampleModFor]] modulus).
    * Output `(qid, rank, neighbor_id, d2_micro2)`, exact integers. */
  def probeTopK(
      queries: DataFrame, corpus: DataFrame, indexDir: String,
      idCol: String, vecCol: String, k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    val spark = queries.sparkSession
    val centroids = KMeansIVF.readCentroids(indexDir) // `_ready`-gated
    val cb = readCodebooks(indexDir)
    val normsC = KMeansNearestUtil.norms(centroids)

    // bounded query batch to the driver: per query the probe buckets (the
    // exact sim-desc/cid-asc rule the oracle's ORDER BY replays) and the
    // exact-integer ADC lookup table
    val qRows = queries.select(
        col(idCol).as("qid"), VectorOps.asDouble(col(vecCol)).as("qdv"))
      .withColumn("qv", ProductQuantizer.micro(col("qdv")))
      .collect()
      .map { r =>
        val qid = r.getLong(0)
        val qdv = r.getSeq[Double](1).toArray
        val qv = r.getSeq[Long](2).toArray
        val near = KMeansNearestUtil.nearest(
          new GenericArrayData(qdv), centroids, normsC, nprobe)
        val buckets = (0 until near.numElements()).map(near.getInt)
        (qid, qv.toSeq, ProductQuantizer.adcLut(qv, cb).map(_.toSeq).toSeq, buckets)
      }.toSeq
    import spark.implicits._
    val qDf = qRows.toDF("qid", "qv", "lut", "buckets")
    val qb = qDf.select(col("qid"), col("lut"), explode(col("buckets")).as("bucket"))
    val allBuckets = qRows.flatMap(_._4).distinct.sorted

    // static partition filter: only the probed bucket directories are read,
    // and the scan schema is (neighbor_id, codes) — no vector column exists.
    // One read per committed root (base + `_done` appends), unioned —
    // partition filters push through the Union into every child scan
    val codes = IndexDir.dataPaths(indexDir).map(p => spark.read.parquet(p))
      .reduce(_ unionByName _)
      .filter(col("bucket").isin(allBuckets.map(Integer.valueOf): _*))
    val short = broadcast(qb).join(codes, Seq("bucket"))
      .filter(col("qid") =!= col("neighbor_id"))
      .withColumn("adc", expr(
        "aggregate(zip_with(codes, lut, (c, l) -> element_at(l, c + 1)), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .groupBy(col("qid"))
      .agg(TopKAggregate.topK(
        (-col("adc")).cast("double"), col("neighbor_id"), shortlist).as("top"))
      .select(col("qid"), explode(col("top").getField("payload")).as("neighbor_id"))

    // exact re-rank: broadcast the (|queries|·shortlist)-row short list and
    // STREAM the primary store through the join — no corpus shuffle
    val cm = corpus.select(
      col(idCol).as("neighbor_id"), ProductQuantizer.micro(col(vecCol)).as("cvq"))
    broadcast(short.join(qDf.select(col("qid"), col("qv")), "qid"))
      .join(cm, Seq("neighbor_id"))
      .withColumn("d2", expr(
        "aggregate(zip_with(qv, cvq, (a, b) -> (a - b) * (a - b)), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .groupBy(col("qid"))
      .agg(TopKAggregate.topK((-col("d2")).cast("double"), col("neighbor_id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("t.payload").as("neighbor_id"), (-col("t.score")).cast("long").as("d2_micro2"))
  }

  /** One append's outcome: previous index state, the batch's quantization
    * quality under the FROZEN codebooks, and the integer drift verdict.
    * `driftBp` is the batch's mean quantization error relative to the
    * index's running mean, in basis points:
    * `(batchSumErr·prevN·10⁴) div (prevSumErr·nBatch)` over exact micro²
    * longs (BigInt product — no overflow, no float). Unlike the cosine
    * gate ([[KMeansIVF.AppendResult]], where LOW means drift), error
    * grows as the distribution leaves the codebooks, so `rebuild` fires
    * one-sided at the doubling point (>20000 bp); an unusually SMALL
    * batch error (e.g. near-duplicate injection) quantizes fine and is
    * not a drift condition. */
  final case class AppendResult(
      nPrev: Long, nBatch: Long, prevSumErr: Long, batchSumErr: Long,
      driftBp: Long, rebuild: Boolean)

  /** Append a batch of NEW vectors without refitting — the
    * [[KMeansIVF.appendIndex]] machinery transplanted to the composed
    * index: the batch is assigned to the FROZEN coarse centroids and
    * encoded against the FROZEN codebooks (both map-side codegen'd
    * expressions — no shuffle, no join) and lands through the
    * [[IndexDir.append]] batch protocol.
    *
    * The DRIFT GATE is what keeps append-without-refit honest here:
    * codebooks fitted on yesterday's corpus lose reconstruction quality
    * as the distribution moves, so each append compares its mean exact
    * quantization error (micro², the q236 `pq.err` arithmetic) against
    * the index's running mean (base build + committed appends, summed
    * from per-append stats fragments) and flags `rebuild` past the
    * doubling point. */
  def appendIndex(
      batch: DataFrame, idCol: String, vecCol: String, dir: String,
      batchId: String): AppendResult =
    IndexDir.append(dir, batchId, "sumErr", AppendResult) { data =>
      val c = batch.select(
          col(idCol).as("neighbor_id"), VectorOps.asDouble(col(vecCol)).as("cv"))
        .withColumn("vq", ProductQuantizer.micro(col("cv")))
      val encoded = encode(c, KMeansIVF.readCentroids(dir), readCodebooks(dir)).persist()
      val st = writeEncoded(encoded, data)
      encoded.unpersist()
      st
    } { case ((pn, ps), (bn, bs)) =>
      require(pn > 0 && bn > 0 && ps >= 0 && bs >= 0,
        s"drift gate needs positive counts, got prev=($pn,$ps) batch=($bn,$bs)")
      // +1-smoothed sums: ZERO quantization error is a legitimate state
      // here (a corpus whose subvectors the codebooks represent exactly —
      // unlike the cosine gate this was transplanted from), so the ratio
      // must stay total: a perfect base with a lossy batch is real drift
      // (flags), a perfect batch over any base is benign (one-sided gate).
      // At realistic error sums (~1e14 micro²) the +1 is far below the
      // basis-point resolution.
      val bp = (BigInt(bs + 1) * pn * 10000 / (BigInt(ps + 1) * bn)).toLong
      AppendResult(pn, bn, ps, bs, bp, bp > 20000)
    }

  /** Fold the base tree + every committed append into a FRESH index at
    * `outDir` ([[IndexDir.compact]] — the [[KMeansIVF.compactAppends]]
    * posture). The centroid/codebook generation carries over unchanged,
    * so probes against `outDir` are IDENTICAL; `stats.json` absorbs the
    * fragments so drift baselines carry forward exactly. */
  def compactAppends(spark: org.apache.spark.sql.SparkSession,
                     dir: String, outDir: String): Unit =
    IndexDir.compact(spark, dir, outDir, Seq("centroids.json", "codebooks.json"), "sumErr")

  /** DuckDB replay of probe-after-append: BOTH fits learned on the BASE
    * subset only, the whole table (base + batch) assigned to those coarse
    * centroids and encoded against those codebooks, queries probe as
    * usual — hash-equality proves [[appendIndex]]'s committed tree serves
    * exactly the no-refit union index (the q333 property for the
    * composed PQ layout). `basePred` filters the raw `$table` columns
    * (e.g. `vec_id % 2 = 0`); `basePredId`/`queryPred` filter the renamed
    * `id`. */
  def appendOracleSql(
      table: String, idCol: String, vecCol: String,
      basePred: String, basePredId: String, queryPred: String,
      k: Int, nprobe: Int, shortlist: Int,
      nClusters: Int = 10, ivfIters: Int = 4, m: Int = 8, kCodes: Int = 16,
      pqIters: Int = 3, ivfSampleCap: Long = 10000, pqSampleCap: Long = 500): String = {
    def cos(a: String, b: String): String = KMeansIVF.cosSql(a, b)
    val fin = s"c$ivfIters"
    val pcFin = s"pc$pqIters"
    val sb = new StringBuilder
    // IVF fit on base + FULL-table assignment: u(id, v), uassigned
    sb ++= KMeansIVF.appendPrefixCtes(
      table, idCol, vecCol, basePred, nClusters, ivfIters, ivfSampleCap)
    // PQ fit on base (fitPred) + FULL-table encode: em, easg
    sb ++= ProductQuantizer.oracleCtes(
      table, idCol, vecCol, m, kCodes, pqIters, pqSampleCap, fitPred = basePredId)
    sb ++= s"q AS (SELECT id AS qid, v AS qdv FROM u WHERE $queryPred),\n"
    sb ++= s"probes AS (SELECT qid, bucket FROM (\n"
    sb ++= s"  SELECT q.qid, c.cid AS bucket,\n"
    sb ++= s"    row_number() OVER (PARTITION BY q.qid\n"
    sb ++= s"      ORDER BY ${cos("q.qdv", "c.cv")} DESC, c.cid) AS pr\n"
    sb ++= s"  FROM q CROSS JOIN $fin c) WHERE pr <= $nprobe),\n"
    sb ++= s"qm AS (SELECT em.id AS qid, em.vq AS qv FROM em JOIN q ON em.id = q.qid),\n"
    sb ++= s"qsub AS (SELECT qid, sub,\n"
    sb ++= s"  qv[(sub * (len(qv) // $m) + 1):((sub + 1) * (len(qv) // $m))] AS qsv\n"
    sb ++= s"  FROM qm, (SELECT unnest(range(0, $m)) AS sub)),\n"
    sb ++= s"qlut AS MATERIALIZED (SELECT qid, sub, cid, sum((x - y) * (x - y)) AS qd FROM (\n"
    sb ++= s"    SELECT s.qid, s.sub, c.cid, unnest(s.qsv) AS x, unnest(c.cv) AS y\n"
    sb ++= s"    FROM qsub s JOIN $pcFin c USING (sub)) GROUP BY 1, 2, 3),\n"
    sb ++= s"cand AS (SELECT p.qid, a.neighbor_id AS id FROM probes p\n"
    sb ++= s"  JOIN uassigned a ON p.bucket = a.bucket AND a.neighbor_id <> p.qid),\n"
    sb ++= s"adcs AS (SELECT cd.qid, cd.id, sum(l.qd)::BIGINT AS adc\n"
    sb ++= s"  FROM cand cd JOIN easg g ON g.id = cd.id\n"
    sb ++= s"  JOIN qlut l ON l.qid = cd.qid AND l.sub = g.sub AND l.cid = g.cid\n"
    sb ++= s"  GROUP BY 1, 2),\n"
    sb ++= s"short AS (SELECT qid, id FROM (\n"
    sb ++= s"  SELECT qid, id, row_number() OVER (PARTITION BY qid\n"
    sb ++= s"    ORDER BY adc, id) AS rn FROM adcs) WHERE rn <= $shortlist),\n"
    sb ++= s"rer AS (SELECT qid, id, sum((x - y) * (x - y))::BIGINT AS d2 FROM (\n"
    sb ++= s"    SELECT sh.qid, sh.id, unnest(qm.qv) AS x, unnest(em.vq) AS y\n"
    sb ++= s"    FROM short sh JOIN qm ON qm.qid = sh.qid JOIN em ON em.id = sh.id)\n"
    sb ++= s"  GROUP BY 1, 2)\n"
    sb ++= s"SELECT qid, rn::INT AS rank, id AS neighbor_id, d2 AS d2_micro2 FROM (\n"
    sb ++= s"  SELECT qid, id, d2, row_number() OVER (PARTITION BY qid\n"
    sb ++= s"    ORDER BY d2, id) AS rn FROM rer) WHERE rn <= $k"
    sb.toString
  }

  /** DuckDB replay of the append DRIFT GATE: base-vs-batch mean exact
    * quantization error under codebooks fitted on the base alone, and the
    * one-sided integer basis-point verdict — every number exact, so the
    * gate itself is hash-checked. `basePredId` filters the renamed `id`. */
  def appendDriftOracleSql(
      table: String, idCol: String, vecCol: String, basePredId: String,
      m: Int = 8, kCodes: Int = 16, pqIters: Int = 3,
      pqSampleCap: Long = 500): String = {
    val sb = new StringBuilder
    sb ++= "WITH " + ProductQuantizer.oracleCtes(
      table, idCol, vecCol, m, kCodes, pqIters, pqSampleCap, fitPred = basePredId)
    sb ++= s"bstat AS (SELECT count(*)::BIGINT AS pn, sum(err)::BIGINT AS ps\n"
    sb ++= s"  FROM enc WHERE $basePredId),\n"
    sb ++= s"qstat AS (SELECT count(*)::BIGINT AS bn, sum(err)::BIGINT AS bs\n"
    sb ++= s"  FROM enc WHERE NOT ($basePredId))\n"
    sb ++= s"SELECT pn AS n_prev, bn AS n_batch, ps AS prev_sum_err, bs AS batch_sum_err,\n"
    sb ++= s"  (((bs + 1)::HUGEINT * pn * 10000) // ((ps + 1)::HUGEINT * bn))::BIGINT AS drift_bp,\n"
    sb ++= s"  ((((bs + 1)::HUGEINT * pn * 10000) // ((ps + 1)::HUGEINT * bn)) > 20000) AS rebuild\n"
    sb ++= s"FROM bstat, qstat"
    sb.toString
  }

  /** Full-pipeline DuckDB replay: IVF fit + PQ fit (disjoint CTE
    * namespaces, concatenated), query routing, ADC over the encoded
    * corpus restricted to probed buckets, bounded short list, exact
    * re-rank. `queryPred` filters `id` (e.g. the sampleModFor predicate). */
  def oracleSql(
      table: String, idCol: String, vecCol: String, queryPred: String,
      k: Int, nprobe: Int, shortlist: Int,
      nClusters: Int = 10, ivfIters: Int = 4, m: Int = 8, kCodes: Int = 16,
      pqIters: Int = 3, ivfSampleCap: Long = 10000, pqSampleCap: Long = 500): String = {
    def cos(a: String, b: String): String =
      s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"
    val fin = s"c$ivfIters"
    val pcFin = s"pc$pqIters"
    val sb = new StringBuilder
    sb ++= KMeansIVF.fitReplayCtes(table, idCol, vecCol, nClusters, ivfIters, ivfSampleCap)
    sb ++= ProductQuantizer.oracleCtes(table, idCol, vecCol, m, kCodes, pqIters, pqSampleCap)
    sb ++= s"q AS (SELECT id AS qid, v AS qdv FROM e WHERE $queryPred),\n"
    sb ++= s"probes AS (SELECT qid, bucket FROM (\n"
    sb ++= s"  SELECT q.qid, c.cid AS bucket,\n"
    sb ++= s"    row_number() OVER (PARTITION BY q.qid\n"
    sb ++= s"      ORDER BY ${cos("q.qdv", "c.cv")} DESC, c.cid) AS pr\n"
    sb ++= s"  FROM q CROSS JOIN $fin c) WHERE pr <= $nprobe),\n"
    sb ++= s"qm AS (SELECT em.id AS qid, em.vq AS qv FROM em JOIN q ON em.id = q.qid),\n"
    sb ++= s"qsub AS (SELECT qid, sub,\n"
    sb ++= s"  qv[(sub * (len(qv) // $m) + 1):((sub + 1) * (len(qv) // $m))] AS qsv\n"
    sb ++= s"  FROM qm, (SELECT unnest(range(0, $m)) AS sub)),\n"
    sb ++= s"qlut AS MATERIALIZED (SELECT qid, sub, cid, sum((x - y) * (x - y)) AS qd FROM (\n"
    sb ++= s"    SELECT s.qid, s.sub, c.cid, unnest(s.qsv) AS x, unnest(c.cv) AS y\n"
    sb ++= s"    FROM qsub s JOIN $pcFin c USING (sub)) GROUP BY 1, 2, 3),\n"
    sb ++= s"cand AS (SELECT p.qid, a.neighbor_id AS id FROM probes p\n"
    sb ++= s"  JOIN assigned a ON p.bucket = a.bucket AND a.neighbor_id <> p.qid),\n"
    sb ++= s"adcs AS (SELECT cd.qid, cd.id, sum(l.qd)::BIGINT AS adc\n"
    sb ++= s"  FROM cand cd JOIN easg g ON g.id = cd.id\n"
    sb ++= s"  JOIN qlut l ON l.qid = cd.qid AND l.sub = g.sub AND l.cid = g.cid\n"
    sb ++= s"  GROUP BY 1, 2),\n"
    sb ++= s"short AS (SELECT qid, id FROM (\n"
    sb ++= s"  SELECT qid, id, row_number() OVER (PARTITION BY qid\n"
    sb ++= s"    ORDER BY adc, id) AS rn FROM adcs) WHERE rn <= $shortlist),\n"
    sb ++= s"rer AS (SELECT qid, id, sum((x - y) * (x - y))::BIGINT AS d2 FROM (\n"
    sb ++= s"    SELECT sh.qid, sh.id, unnest(qm.qv) AS x, unnest(em.vq) AS y\n"
    sb ++= s"    FROM short sh JOIN qm ON qm.qid = sh.qid JOIN em ON em.id = sh.id)\n"
    sb ++= s"  GROUP BY 1, 2)\n"
    sb ++= s"SELECT qid, rn::INT AS rank, id AS neighbor_id, d2 AS d2_micro2 FROM (\n"
    sb ++= s"  SELECT qid, id, d2, row_number() OVER (PARTITION BY qid\n"
    sb ++= s"    ORDER BY d2, id) AS rn FROM rer) WHERE rn <= $k"
    sb.toString
  }
}
