package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.functions.TextHash

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val docs = Seq(
    (1L, base),
    (2L, base + " extra"),                           // near-dup of 1
    (3L, "completely different words about spark engines and shuffles here"),
    (4L, base),                                      // exact dup of 1
    (5L, "short doc")
  ).toDF("doc_id", "text")

  test("minhash LSH finds near-dup and exact-dup pairs, not distinct docs") {
    val pairs = MinHashDedup.pairs(docs, "doc_id",
        graft.functions.VectorExpressions.wordShingleHashes(col("text"), 3, TextHash.P),
        MinHashDedup.Config(16, 8, 0.5))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact dup pair")
    assert(pairs.contains((1L, 2L)), "near dup pair")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "distinct doc has no pair")
  }

  /** Near-dup clusters the way the dedup queries form them: verified MinHash
    * pairs, then min-label components; a doc survives unless a lower id
    * shares its component. */
  private def fuzzySurvivors(texts: Seq[(Long, String)], cfg: MinHashDedup.Config): Set[Long] = {
    val df = texts.toDF("doc_id", "text")
    val pairs = MinHashDedup.pairs(df, "doc_id",
      graft.functions.VectorExpressions.wordShingleHashes(col("text"), 3, TextHash.P), cfg)
    val comp = ConnectedComponents.minLabel(pairs.select(col("id_a"), col("id_b")))
    val dropped = comp.filter(col("root") =!= col("id")).select(col("id").as("doc_id"))
    df.join(dropped, Seq("doc_id"), "left_anti").select("doc_id").as[Long].collect().toSet
  }

  test("a chain of near-dups collapses to its lowest id through the components") {
    val core = base + " ok"
    val kept = fuzzySurvivors(Seq((10L, core), (11L, core + " one"), (12L, core + " one two"),
      (13L, "completely different words about spark engines and shuffles here")),
      MinHashDedup.Config(16, 8, 0.5))
    assert(kept == Set(10L, 13L))
  }

  test("a star of near-dups keeps only its hub, whether or not the spokes pair") {
    val core = base + " ok"
    val kept = fuzzySurvivors(Seq((20L, core), (21L, core + " alpha beta gamma"),
      (22L, core + " delta epsilon zeta")), MinHashDedup.Config(16, 8, 0.4))
    assert(kept == Set(20L))
  }

  test("signature-estimate prune keeps every true pair and shrinks the verify set") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = graft.functions.VectorExpressions.wordShingleHashes(col("text"), 3, TextHash.P)
    val cfg = MinHashDedup.Config(numHashes = 16, bands = 8, jaccardThreshold = 0.8)
    val noPrune = cfg.copy(estimateMargin = 1.0) // cutoff < 0 disables
    def result(c: MinHashDedup.Config) =
      MinHashDedup.pairs(docs, "doc_id", sh, c)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = result(cfg)
    spark.catalog.clearCache()
    val full = result(noPrune)
    spark.catalog.clearCache()
    assert(pruned == full, "prune must not change the verified output")
    // and the prune genuinely reduces the exact-verify input
    val sig = MinHashDedup.withSignature(
      MinHashDedup.hashed(docs, "doc_id", sh), cfg)
    val candAll = MinHashDedup.candidatePairs(sig, cfg).count()
    val candPruned = MinHashDedup.estimatePruned(
      MinHashDedup.candidatePairs(sig, cfg), sig, cfg).count()
    info(s"candidates $candAll -> $candPruned after estimate prune")
    assert(candPruned <= candAll)
    spark.catalog.clearCache()
  }

  test("native SimHash60 equals the explode+aggregate composition on real docs") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val native = SimHashDedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composed = SimHashDedup.simhashComposed(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == composed)
    assert(native.nonEmpty)
  }

  test("simhash: identical docs have hamming 0; blocking finds them") {
    val pairs = SimHashDedup.pairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val p14 = pairs.find(p => p._1 == 1L && p._2 == 4L)
    assert(p14.exists(_._3 == 0), s"exact dup must have hamming 0, got $pairs")
  }

  test("cosine near-dup and topK agree on an obvious structure") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val nd = VectorOps.nearDupPairs(emb, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd == Set((1L, 2L)))
    val tk = VectorOps.topK(emb.filter(col("vec_id") === 1), emb, "vec_id", "embedding", 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(tk == Seq(2L))
  }

  test("shingles: short docs still produce one shingle") {
    val sh = docs.filter(col("doc_id") === 5)
      .select(TextHash.wordShingles(col("text"), 3).as("s"))
      .head().getSeq[String](0)
    assert(sh == Seq("short doc"))
  }

  test("duplicate spans: overlapping covered ranges merge (no double-counted chars)") {
    // a 10-periodic 40-char run duplicates exactly the window pair at
    // (p, p+10) — covered char ranges overlap by 20; a start-run-only
    // island rule would emit two overlapping spans summing to 60 chars
    // for a 40-char duplication (the q240 double-count bug)
    val y = "0123456789" * 4
    val doc = "unique prefix text " + y + " unique suffix words"
    val planted = Seq((21L, doc),
      (22L, "completely unrelated filler content long enough for windows"))
      .toDF("doc_id", "text")
    val spans = graft.queries.DedupQueries.duplicateSpans(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pY = doc.trim.indexOf(y) + 1 // 1-based
    assert(spans.toSeq === Seq((21L, pY.toLong, (pY + 39).toLong, 2L)),
      s"expected ONE merged 40-char span, got ${spans.toSeq}")
  }

  test("duplicate spans: a planted verbatim block reports as ONE maximal span") {
    // doc 11 and 12 share a 60-char block at different offsets inside
    // otherwise-unique text; every 30-char window of the block duplicates,
    // and the island merge must collapse them into one span per doc
    val block = "zz" + ("abcdefghij" * 5) + "qq" // 54 interior + guards = 54? 2+50+2 = 54 chars
    val d11 = "unique prefix one 111111111 " + block + " unique suffix aaa"
    val d12 = "totally different beginning 22 " + block + " other ending bbbb"
    val planted = Seq((11L, d11), (12L, d12),
      (13L, "no duplication here at all, plain original text with enough length"))
      .toDF("doc_id", "text")
    val spans = graft.queries.DedupQueries.duplicateSpans(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.map(_._1).toSet === Set(11L, 12L), s"got ${spans.toSeq}")
    for ((doc, st, en, nw) <- spans) {
      val text = (if (doc == 11L) d11 else d12).trim
      // the reported span must contain the whole planted block
      val blockStart = text.indexOf(block) + 1 // 1-based
      assert(st <= blockStart && en >= blockStart + block.length - 1,
        s"doc $doc span [$st,$en] must cover the block at $blockStart")
      assert(nw === en - st + 1 - 29, s"doc $doc: contiguous island window count")
      // maximality: one span per doc, not fragments
      assert(spans.count(_._1 == doc) === 1)
    }
  }

  test("q252 bigram novelty matches a direct recompute; dups score 0, unique text 10000") {
    val rows = graft.queries.DedupQueries
      .queries("q252_bigram_novelty")(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // direct recompute from the same shingle expression
    val sets = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), graft.functions.VectorExpressions
        .wordShingleHashes(col("text"), 2, TextHash.P).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val df = scala.collection.mutable.Map.empty[Long, Int]
    for ((_, hs) <- sets; h <- hs) df(h) = df.getOrElse(h, 0) + 1
    for ((id, hs) <- sets) {
      val novel = hs.count(df(_) == 1).toLong
      val (nB, nv, bp) = rows(id)
      assert(nB == hs.size.toLong, s"doc $id size")
      assert(nv == novel, s"doc $id novel count")
      assert(bp == novel * 10000 / hs.size, s"doc $id bp")
    }
    // structural: novelty is a share in [0, 10000]
    assert(rows.values.forall { case (_, _, bp) => bp >= 0 && bp <= 10000 })
  }

  test("q253 ROUGE pairs match a direct clipped-multiset recompute") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.DedupQueries.queries("q253_rouge_pairs")(spark, sf)
      .collect().map { r =>
        (r.getInt(0), r.getLong(1), r.getLong(2)) ->
          ((r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6), r.getLong(7), r.getLong(8)))
      }.toMap
    assert(rows.nonEmpty, "planted near-dup pairs must surface")
    val texts = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String, n: Int): Seq[String] = {
      val toks = t.trim.split("\\s+").toSeq
      if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
      else Seq(toks.mkString(" "))
    }
    for (((n, a, b), (ov, refT, candT, rBp, pBp, fBp)) <- rows) {
      val (ga, gb) = (grams(texts(a), n), grams(texts(b), n))
      val ca = ga.groupBy(identity).view.mapValues(_.size).toMap
      val cb = gb.groupBy(identity).view.mapValues(_.size).toMap
      val wantOv = ca.keysIterator
        .map(g => math.min(ca(g), cb.getOrElse(g, 0)).toLong).sum
      assert(refT == ga.length.toLong && candT == gb.length.toLong, s"($n,$a,$b) totals")
      assert(ov == wantOv, s"($n,$a,$b) overlap")
      assert(rBp == ov * 10000 / refT && pBp == ov * 10000 / candT)
      assert(fBp == 2 * ov * 10000 / (refT + candT))
      // harmonic mean sits between precision and recall
      assert(fBp >= math.min(rBp, pBp) - 1 && fBp <= math.max(rBp, pBp) + 1)
    }
  }

  test("q306 contamination census: no collect_list buffer; counts match a direct recompute") {
    val sf = "/root/testdata/sf0.001"
    val df = graft.queries.DedupQueries.queries("q306_split_contamination")(spark, sf)
    // the r12 verdict's scale wart: a per-group collect_list of every
    // pair's ids holds ~all pairs of a split class in ONE buffer (≤ 6
    // groups) — the exploded countDistinct form must leave no
    // collect_list in the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"),
      s"q306 must not aggregate pair ids into a buffer:\n$plan")
    val rows = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows.nonEmpty, "planted near-dup pairs must surface")
    // direct recompute from the same pair relation
    val docs = graft.Tables.documents(spark, sf)
    val prs = MinHashDedup.pairs(docs, "doc_id",
      graft.functions.VectorExpressions.wordShingleHashes(
        org.apache.spark.sql.functions.col("text"), 3, graft.functions.TextHash.P),
      MinHashDedup.Config())
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    def splitOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        md.take(8).map("%02x".format(_)).mkString.take(15), 16) % 100
      if (h < 80) "train" else if (h < 90) "val" else "test"
    }
    val want = prs.groupBy { case (a, b) =>
      val (sa, sb) = (splitOf(a), splitOf(b))
      (if (sa < sb) sa else sb, if (sa < sb) sb else sa)
    }.view.mapValues(g => (g.length.toLong,
      g.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)).toMap
    assert(rows == want)
  }
}
