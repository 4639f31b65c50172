package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BpeExpressions

/** Corpus-scale BPE merge learning (Sennrich et al. 2016 — "Neural Machine
  * Translation of Rare Words with Subword Units", the public algorithm).
  *
  * Each round is fully distributed except the ONE decision the algorithm
  * itself defines as global — the argmax pair:
  *
  *  1. adjacent-pair counts: `zip_with(syms, slice(syms, 2, n-1), struct)`
  *     exploded into a hash-aggregate with map-side combine. The zipped
  *     operands are plain attribute reads of the checkpointed symbol
  *     relation (NOT re-evaluated per element — the q50 HOF-lambda trap).
  *  2. top-1 by (count desc, pair asc) — a deterministic total order, so
  *     ties cannot make two runs learn different vocabularies. Only this
  *     single row is ever collected.
  *  3. the merge applies corpus-wide as one map-side codegen'd expression
  *     ([[graft.functions.BpeMergePair]]); the new symbol relation is
  *     `localCheckpoint`ed so round k+1's plan does not replay rounds 1..k
  *     (the lineage otherwise grows linearly in merge count).
  *
  * At 100 TB the shape is unchanged: k rounds × (one explode-agg shuffle +
  * one map pass). The pair-count relation is |symbol-vocab|² at most —
  * driver-trivial — and the argmax could stay distributed via a single
  * `limit(1)` exactly as here.
  */
object BpeVocab {

  final case class Merge(a: String, b: String, count: Long)

  /** The first `numMerges` BPE merges of the corpus (stops early when no
    * pair reaches `minCount`).
    *
    * `batch` AMORTIZES the corpus pair-count job across several merges:
    * each round counts pairs ONCE, then greedily picks up to `batch`
    * merges whose symbol sets are PAIRWISE DISJOINT, scanning the
    * deterministic top-`prefixCap` prefix in (count DESC, a, b) order —
    * the first non-conflicting pair each time, which is identical to
    * iterated argmax-with-exclusion, so the oracle unrolls the picks as
    * `batch` argmax CTEs per round. Disjoint pairs cannot consume each
    * other's operands, so applying them in pick order is well-defined;
    * counts shown for later picks are the round's shared pre-batch counts
    * (classic BPE would re-count between picks — this is the standard
    * batched-trainer approximation, deterministic and replayed exactly).
    * `batch = 1` IS classic BPE (the prefix cut is immaterial for the
    * plain argmax). Learning k merges costs ceil(k/batch) count jobs
    * instead of k.
    *
    * `checkpointEvery` trades recompute for materialization: the symbol
    * relation is only localCheckpoint'ed every that-many merges, so a round
    * in between re-derives up to `checkpointEvery − 1` codegen'd merge maps
    * from the last checkpoint — cheap column work — instead of paying a
    * full materialization job per round (per-JOB overhead dominates short
    * iterative operators; the lineage stays bounded either way). The
    * default re-checkpoints every 8 merges; a 100 TB run learning hundreds
    * of merges keeps exactly the same cadence. */
  def learnMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 2L,
      checkpointEvery: Int = 8,
      batch: Int = 1,
      prefixCap: Int = 64): Seq[Merge] =
    learnMergesSlotted(docs, textCol, numMerges, minCount,
      checkpointEvery, batch, prefixCap).map(_._2)

  /** [[learnMerges]] with each merge's global PICK SLOT (1-based,
    * slot = (round−1)·batch + in-round pick index). The schedule is FIXED
    * at ceil(numMerges/batch) rounds of `batch` slots: a round whose
    * top-prefixCap prefix yields fewer than `batch` disjoint picks leaves
    * its remaining slots EMPTY rather than backfilling them next round —
    * exactly the hole pattern of the oracle's static pick CTEs (an
    * adaptive backfill would shift every later round's corpus state off
    * the replay). Learning stops at the first round that picks nothing
    * (prefix empty ⇒ every later round is provably identical). */
  def learnMergesSlotted(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 2L,
      checkpointEvery: Int = 8,
      batch: Int = 1,
      prefixCap: Int = 64): Seq[(Int, Merge)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    require(batch >= 1 && prefixCap >= batch,
      s"need batch >= 1 and prefixCap >= batch, got batch=$batch prefixCap=$prefixCap")
    val spark = docs.sparkSession
    val narrow = docs
      .select(BpeExpressions.initSymbols(col(textCol)).as("syms"))
      .filter(size(col("syms")) >= 2)
    // every round re-maps and re-aggregates this relation, so a skinny
    // input (e.g. a single-row-group local file) would serialize ALL k+1
    // passes on one core — one upfront round-robin shuffle amortizes
    // across the rounds (the HistogramPercentile precedent); a no-op on
    // real clusters whose scans already carry >= defaultParallelism splits
    val par = spark.sparkContext.defaultParallelism
    var syms =
      (if (narrow.rdd.getNumPartitions < par) narrow.repartition(par) else narrow)
        .localCheckpoint()
    // `syms` may chain un-checkpointed merges off the last checkpoint;
    // releasing the chain releases that checkpoint
    var sinceCheckpoint = 0
    val merges = ArrayBuffer.empty[(Int, Merge)]
    val rounds = (numMerges + batch - 1) / batch
    var round = 0
    var continue = true
    while (continue && round < rounds) {
      round += 1
      // ONE bounded collect per round: the top-prefixCap qualifying pairs
      // in the deterministic total order (TakeOrdered — never a full sort)
      val prefix = pairCounts(syms.col("syms"), syms)
        .filter(col("n") >= minCount)
        .orderBy(desc("n"), asc("a"), asc("b"))
        .limit(prefixCap)
        .collect()
      // this round's SLOT budget — fixed by the schedule, never by how
      // many merges earlier rounds managed to fill (see scaladoc)
      val want = math.min(batch, numMerges - (round - 1) * batch)
      val picked = ArrayBuffer.empty[Merge]
      val used = scala.collection.mutable.Set.empty[String]
      prefix.iterator
        .takeWhile(_ => picked.length < want)
        .foreach { r =>
          val (a, b) = (r.getString(0), r.getString(1))
          if (!used(a) && !used(b)) {
            picked += Merge(a, b, r.getLong(2)); used += a; used += b
          }
        }
      if (picked.isEmpty) continue = false
      else {
        picked.zipWithIndex.foreach { case (m, j) =>
          merges += (((round - 1) * batch + j + 1, m)) }
        val merged = syms.select(picked.foldLeft(col("syms"))((acc, m) =>
          BpeExpressions.mergePair(acc, lit(m.a), lit(m.b))).as("syms"))
        sinceCheckpoint += picked.length
        if (sinceCheckpoint >= checkpointEvery && round < rounds) {
          val next = merged.localCheckpoint() // eager: materialized before the release
          PinnedLoop.release(syms)
          syms = next
          sinceCheckpoint = 0
        } else syms = merged
      }
    }
    PinnedLoop.release(syms)
    merges.toSeq
  }

  /** Tokenize `text` with a learned merge list: ONE fused map-side
    * expression carrying the whole merge table (k nested mergePair calls
    * blow the 64 KB generated-method limit near k ≈ 30 and silently fall
    * back to the interpreter — [[graft.functions.BpeExpressions.applyAll]]
    * generates a single call whatever k is). */
  def applyMerges(text: Column, merges: Seq[Merge]): Column =
    if (merges.isEmpty) BpeExpressions.initSymbols(text)
    else BpeExpressions.applyAll(text, merges.map(m => (m.a, m.b)).toArray)

  /** DuckDB replay of [[learnMerges]] — each round unrolled (the
    * KMeansIVF-Lloyd / PageRank pattern; DuckDB 1.0 has no `list_reduce`,
    * so per-round corpus state rides a STRING instead of a list):
    *
    * Symbols are kept as one delimiter-framed string per document —
    * `UaUUbU...` with U = chr(31), every symbol wrapped in U on both
    * sides — because SQL `replace()` substitutes occurrences LEFT TO
    * RIGHT, NON-OVERLAPPING, continuing after each replacement: exactly the
    * greedy merge scan of [[graft.functions.BpeUtil.mergePair]]. The
    * double-delimiter framing makes a pair occurrence `UaUUbU`
    * unambiguous (a symbol ending in `a` or starting with `b` cannot
    * false-match across the frame); chr(31) (ASCII unit separator) never
    * appears in text. Pair counting re-splits the frame string per round;
    * the argmax replays (count DESC, a, b) — both engines compare strings
    * bytewise, so ties break identically. */
  def oracleSql(
      table: String = "documents",
      textCol: String = "text",
      numMerges: Int = 4,
      minCount: Long = 2L,
      batch: Int = 1,
      prefixCap: Int = 64): String = {
    val sb = chainSql(table, textCol, Nil, numMerges, minCount, batch, prefixCap)
    sb ++= (1 to numMerges)
      .map(i => s"SELECT $i AS rank, a, b, n FROM t$i")
      .mkString("ranked AS (\n", "\nUNION ALL ", ")\n")
    sb ++= "SELECT rank, a, b, n FROM ranked ORDER BY rank"
    sb.toString
  }

  /** DuckDB replay of learn-then-ENCODE: the same unrolled merge chain,
    * with `idCol`/`groupCol` carried through every round so the final
    * per-document symbol counts can be joined back to round 0 and rolled
    * up per group — the compression readout of [[applyMerges]]. */
  def encodeOracleSql(
      table: String = "documents",
      textCol: String = "text",
      idCol: String = "doc_id",
      groupCol: String = "source",
      numMerges: Int = 4,
      minCount: Long = 2L,
      batch: Int = 1,
      prefixCap: Int = 64): String = {
    val d = "chr(31)"
    val rounds = (numMerges + batch - 1) / batch
    val sb = chainSql(table, textCol, Seq(idCol, groupCol), numMerges, minCount, batch, prefixCap)
    def nsyms(rel: String) =
      s"len(string_split(substr($rel.s, 2, length($rel.s) - 2), $d || $d))"
    sb ++= s"f AS (SELECT r0.$idCol, r0.$groupCol,\n"
    sb ++= s"        ${nsyms("r0")}::BIGINT AS len0,\n"
    sb ++= s"        ${nsyms("rk")}::BIGINT AS lenk\n"
    sb ++= s"      FROM r0 JOIN r$rounds rk ON r0.$idCol = rk.$idCol)\n"
    sb ++= s"SELECT $groupCol, count(*)::BIGINT AS n_docs,\n"
    sb ++= s"  sum(len0)::BIGINT AS initial_symbols,\n"
    sb ++= s"  sum(lenk)::BIGINT AS merged_symbols,\n"
    sb ++= s"  ((sum(lenk) * 10000) // sum(len0))::BIGINT AS ratio_bp\n"
    sb ++= s"FROM f GROUP BY $groupCol"
    sb.toString
  }

  /** DuckDB replay of the FULL learn → encode-to-token-IDS → pack loop
    * (q326): the unrolled merge chain with `idCol` carried, then the
    * frequency-ranked vocabulary (tok_id = row_number over count DESC,
    * symbol ASC — both engines compare strings bytewise, so rank ties
    * break identically), per-document id sequences (head `headN` emitted
    * as CSV), and the concat-then-chunk packing columns on the running
    * token count (q235's integer division identities). */
  def tokenPackOracleSql(
      table: String = "documents",
      textCol: String = "text",
      idCol: String = "doc_id",
      numMerges: Int = 4,
      minCount: Long = 2L,
      chunk: Long = 512L,
      headN: Int = 8,
      batch: Int = 1,
      prefixCap: Int = 64): String = {
    val d = "chr(31)"
    val rounds = (numMerges + batch - 1) / batch
    val sb = chainSql(table, textCol, Seq(idCol), numMerges, minCount, batch, prefixCap)
    // per-doc symbol LIST from the frame string, then (pos, sym) pairs
    // via the parallel-unnest zip
    sb ++= s"y AS (SELECT $idCol, string_split(substr(s, 2, length(s) - 2), $d || $d) AS ys\n"
    sb ++= s"     FROM r$rounds),\n"
    sb ++= s"ex AS (SELECT $idCol, unnest(range(1, len(ys) + 1)) AS pos, unnest(ys) AS sym FROM y),\n"
    sb ++= s"vocab AS (SELECT sym, count(*) AS n FROM ex GROUP BY sym),\n"
    sb ++= s"vid AS (SELECT sym, (row_number() OVER (ORDER BY n DESC, sym))::BIGINT AS tok_id FROM vocab),\n"
    sb ++= s"ids AS (SELECT e.$idCol, e.pos, v.tok_id FROM ex e JOIN vid v ON e.sym = v.sym),\n"
    sb ++= s"per AS (SELECT $idCol, count(*)::BIGINT AS nt,\n"
    sb ++= s"          array_to_string(list_slice(list(tok_id::VARCHAR ORDER BY pos), 1, $headN), ',') AS head_ids\n"
    sb ++= s"        FROM ids GROUP BY $idCol),\n"
    sb ++= s"c AS (SELECT $idCol, nt, head_ids,\n"
    sb ++= s"        (sum(nt) OVER (ORDER BY $idCol ROWS UNBOUNDED PRECEDING))::BIGINT AS cum FROM per)\n"
    sb ++= s"SELECT $idCol, nt AS n_tokens, head_ids,\n"
    sb ++= s"  ((cum - nt) // $chunk)::BIGINT AS first_seq,\n"
    sb ++= s"  ((cum - 1) // $chunk)::BIGINT AS last_seq,\n"
    sb ++= s"  ((cum - nt) % $chunk)::BIGINT AS start_off\n"
    sb ++= s"FROM c"
    sb.toString
  }

  /** The shared unrolled chain: r0 (framed symbol string per doc, plus
    * `carry` columns), then per ROUND: pair counts p_i, the top-prefixCap
    * candidate prefix g_i, `batch` unrolled greedy picks (each pick k an
    * argmax over g_i EXCLUDING pairs sharing a symbol with the round's
    * earlier picks — iterated argmax-with-exclusion ≡ the driver's greedy
    * prefix scan), and the merged corpus applying the picks in order.
    * Pick CTEs are named t$k by GLOBAL merge index, so callers union
    * t1..t$numMerges regardless of batching; an exhausted corpus leaves
    * later picks empty (zero rows — matching the driver's early stop).
    * The per-round corpus states are r1..r$rounds with r$i aliased to the
    * LAST application step of round i — callers reference the final
    * corpus as r$rounds with rounds = ceil(numMerges/batch). Returns the
    * open WITH prefix ending in a comma. */
  private def chainSql(
      table: String,
      textCol: String,
      carry: Seq[String],
      numMerges: Int,
      minCount: Long,
      batch: Int = 1,
      prefixCap: Int = 64): StringBuilder = {
    require(batch >= 1 && prefixCap >= batch,
      s"need batch >= 1 and prefixCap >= batch, got batch=$batch prefixCap=$prefixCap")
    val d = "chr(31)"         // symbol frame delimiter
    val ws = s"' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)"
    val carrySel = carry.map(c => s"$c, ").mkString
    val sb = new StringBuilder
    sb ++= s"WITH r0 AS MATERIALIZED (\n"
    sb ++= s"  SELECT $carrySel$d || array_to_string(\n"
    sb ++= s"      flatten(list_transform(\n"
    sb ++= s"        list_filter(string_split_regex(trim($textCol, $ws), '\\s+'), t -> t != ''),\n"
    sb ++= s"        t -> list_append(string_split(t, ''), '</w>'))),\n"
    sb ++= s"      $d || $d) || $d AS s\n"
    sb ++= s"  FROM $table WHERE length(trim($textCol, $ws)) > 0),\n"
    val rounds = (numMerges + batch - 1) / batch
    var k = 0
    (1 to rounds).foreach { i =>
      val prev = s"r${i - 1}"
      val bi = math.min(batch, numMerges - (i - 1) * batch)
      // adjacent pairs: re-split the frame string, zip via parallel unnest
      sb ++= s"p$i AS MATERIALIZED (SELECT unnest(list_slice(y, 1, len(y) - 1)) AS a,\n"
      sb ++= s"        unnest(list_slice(y, 2, len(y))) AS b FROM (\n"
      sb ++= s"  SELECT string_split(substr(s, 2, length(s) - 2), $d || $d) AS y FROM $prev)),\n"
      sb ++= s"g$i AS MATERIALIZED (SELECT a, b, count(*) AS n FROM p$i GROUP BY a, b\n"
      sb ++= s"        HAVING count(*) >= $minCount ORDER BY n DESC, a, b LIMIT $prefixCap),\n"
      val roundPicks = (1 to bi).map { j => k += 1; (j, k) }
      roundPicks.foreach { case (j, kk) =>
        val excl = roundPicks.take(j - 1).map { case (_, pk) =>
          s"  AND NOT EXISTS (SELECT 1 FROM t$pk p WHERE p.a IN (x.a, x.b) OR p.b IN (x.a, x.b))\n"
        }.mkString
        sb ++= s"t$kk AS MATERIALIZED (SELECT a, b, n FROM g$i x WHERE true\n"
        sb ++= excl
        sb ++= s"  ORDER BY n DESC, a, b LIMIT 1),\n"
      }
      // apply the round's picks IN PICK ORDER; an empty pick leaves the
      // corpus unchanged (LEFT JOIN + coalesce — a CROSS JOIN would empty
      // the corpus and silently kill every later round)
      roundPicks.foreach { case (j, kk) =>
        val src = if (j == 1) prev else s"r${i}x${j - 1}"
        val name = if (j == bi) s"r$i" else s"r${i}x$j"
        sb ++= s"$name AS MATERIALIZED (SELECT ${carrySel}coalesce(replace(s, $d || a || $d || $d || b || $d,\n"
        sb ++= s"                       $d || a || b || $d), s) AS s FROM $src LEFT JOIN t$kk ON true),\n"
      }
    }
    sb
  }

  private def pairCounts(syms: Column, rel: DataFrame): DataFrame =
    rel.select(explode(zip_with(syms, slice(syms, lit(2), size(syms) - 1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      // zip_with pads the shorter slice with null -> every row emits one
      // (last-symbol, null) struct; unfiltered it can WIN the argmax
      // (count = #docs, and asc(b) sorts null first) and a null merge
      // operand nulls the whole symbol relation
      .filter(col("p.b").isNotNull)
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))
}
