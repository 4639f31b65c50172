package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.BpeExpressions.WordEnd

/** BPE learning/tokenization vs a pure-Scala reference implementation of
  * the classic algorithm — exact merge-sequence and token equality. */
class BpeVocabSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // --- reference (greedy, deterministic ties by (count desc, pair asc)) ---

  private def refInit(text: String): Vector[String] =
    text.trim.split("\\s+").filter(_.nonEmpty)
      .flatMap(t => t.map(_.toString) :+ WordEnd).toVector

  private def refMerge(s: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i < s.length - 1 && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
      else { out += s(i); i += 1 }
    }
    out.result()
  }

  private def refLearn(corpus: Seq[String], k: Int, minCount: Long = 2L): Seq[(String, String, Long)] = {
    var docs = corpus.map(refInit).filter(_.length >= 2)
    val merges = Seq.newBuilder[(String, String, Long)]
    var n = 0
    var continue = true
    while (continue && n < k) {
      val counts = docs.flatMap(d => d.zip(d.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val best = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
      best.filter(_._2 >= minCount) match {
        case None => continue = false
        case Some(((a, b), c)) =>
          merges += ((a, b, c)); n += 1
          docs = docs.map(refMerge(_, a, b))
      }
    }
    merges.result()
  }

  private val corpus = Seq(
    "low low low lower lower",
    "newest newest newest newest",
    "widest widest wider low")

  test("learnMerges == reference merge sequence (order, pairs, counts)") {
    val got = BpeVocab.learnMerges(corpus.toDF("text"), "text", numMerges = 8)
      .map(m => (m.a, m.b, m.count))
    assert(got === refLearn(corpus, 8))
    assert(got.nonEmpty)
  }

  test("applyMerges tokenization == reference application per doc") {
    val merges = BpeVocab.learnMerges(corpus.toDF("text"), "text", numMerges = 6)
    val got = corpus.toDF("text")
      .select(BpeVocab.applyMerges(col("text"), merges).as("toks"))
      .as[Seq[String]].collect().toSeq
    val want = corpus.map(t =>
      merges.foldLeft(refInit(t))((s, m) => refMerge(s, m.a, m.b)).toSeq)
    assert(got === want)
  }

  test("greedy non-overlapping merge: aaa + (a,a) -> [aa, a]") {
    val out = Seq("aaa").toDF("text")
      .select(graft.functions.BpeExpressions.mergePair(
        array(lit("a"), lit("a"), lit("a")), lit("a"), lit("a")).as("m"))
      .as[Seq[String]].head()
    assert(out === Seq("aa", "a"))
  }

  test("learning is deterministic across runs (tie-break is total)") {
    val df = corpus.toDF("text")
    assert(BpeVocab.learnMerges(df, "text", 5) === BpeVocab.learnMerges(df, "text", 5))
  }

  test("minCount stops learning before degenerate singleton merges") {
    // every pair unique -> nothing reaches minCount=2 -> no merges
    assert(BpeVocab.learnMerges(Seq("abcdefg").toDF("text"), "text", 4).isEmpty)
  }

  test("zip_with null padding cannot win the argmax (no (</w>, null) merge)") {
    // each doc's last symbol pairs with the null pad: corpus-wide count 3
    // would beat every real pair if unfiltered (reference finds no merges)
    val corpus = Seq("ab", "cd", "ef")
    assert(refLearn(corpus, 4).isEmpty)
    assert(BpeVocab.learnMerges(corpus.toDF("text"), "text", 4).isEmpty)
  }

  // reference for the AMORTIZED batch variant: fixed ceil(k/batch)-round
  // schedule, each round = one count + greedy disjoint picks from the
  // top-prefixCap prefix; under-filled rounds leave slot holes
  private def refLearnBatched(
      corpus: Seq[String], k: Int, batch: Int, prefixCap: Int = 64,
      minCount: Long = 2L): Seq[(Int, (String, String, Long))] = {
    var docs = corpus.map(refInit).filter(_.length >= 2)
    val out = Seq.newBuilder[(Int, (String, String, Long))]
    val rounds = (k + batch - 1) / batch
    var stop = false
    for (i <- 1 to rounds if !stop) {
      val counts = docs.flatMap(d => d.zip(d.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val prefix = counts.toSeq.filter(_._2 >= minCount)
        .sortBy { case ((a, b), c) => (-c, a, b) }.take(prefixCap)
      val want = math.min(batch, k - (i - 1) * batch)
      var used = Set.empty[String]
      var picked = Vector.empty[(String, String, Long)]
      for (((a, b), c) <- prefix if picked.length < want)
        if (!used(a) && !used(b)) { picked :+= ((a, b, c)); used = used + a + b }
      if (picked.isEmpty) stop = true
      else {
        picked.zipWithIndex.foreach { case ((a, b, c), j) =>
          out += (((i - 1) * batch + j + 1, (a, b, c))) }
        picked.foreach { case (a, b, _) => docs = docs.map(refMerge(_, a, b)) }
      }
    }
    out.result()
  }

  test("batched learning == fixed-schedule greedy reference (slots, pairs, counts)") {
    val df = corpus.toDF("text")
    val got = BpeVocab.learnMergesSlotted(df, "text", numMerges = 8, batch = 3)
      .map { case (slot, m) => (slot, (m.a, m.b, m.count)) }
    assert(got === refLearnBatched(corpus, 8, 3))
    assert(got.nonEmpty)
    // disjointness within each round: no symbol reused inside a batch
    got.groupBy { case (slot, _) => (slot - 1) / 3 }.foreach { case (_, ms) =>
      val syms = ms.flatMap { case (_, (a, b, _)) => Seq(a, b) }
      assert(syms.distinct == syms, s"round symbols must be pairwise disjoint: $syms")
    }
  }

  test("batch=1 slotted learning IS classic BPE with dense slots") {
    val df = corpus.toDF("text")
    val slotted = BpeVocab.learnMergesSlotted(df, "text", numMerges = 5, batch = 1)
    assert(slotted.map(_._1) == (1 to slotted.length))
    assert(slotted.map { case (_, m) => (m.a, m.b, m.count) } === refLearn(corpus, 5))
  }

  test("non-space whitespace (tabs/newlines) matches the reference init") {
    val tricky = Seq("\nlow low\t", "lowlow")
    val merges = BpeVocab.learnMerges(tricky.toDF("text"), "text", 3)
    assert(merges.map(m => (m.a, m.b, m.count)) === refLearn(tricky, 3))
    val got = tricky.toDF("text")
      .select(BpeVocab.applyMerges(col("text"), merges).as("t")).as[Seq[String]].collect().toSeq
    val want = tricky.map(t => merges.foldLeft(refInit(t))((s, m) => refMerge(s, m.a, m.b)).toSeq)
    assert(got === want)
  }

  test("learning releases every checkpoint it made, mid-run re-checkpoints too") {
    // checkpointEvery = 2 re-checkpoints (and releases the last one) mid-run
    val left = graft.TestJobs.leftPersisted(spark) {
      BpeVocab.learnMerges(corpus.toDF("text"), "text", numMerges = 6, checkpointEvery = 2)
      Seq.empty
    }
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
