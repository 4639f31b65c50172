package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Incremental IVF index maintenance: append-without-refit, crash-atomic
  * `_done` visibility, idempotent replay, and the exact-integer drift
  * gate. */
class IvfAppendSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def freshIdx(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"ivf_append_$tag").toString

  private lazy val e = Tables.embeddings(spark, dir)
  private lazy val base = e.filter(col("vec_id") % 2 === 0)
  private lazy val batch = e.filter(col("vec_id") % 2 =!= 0)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

  test("probe-after-append == probe of a union index under the SAME centroids") {
    val idxA = freshIdx("a")
    val cents = KMeansIVF.writeIndex(base, "vec_id", "embedding", idxA, sampleCap = 100)
    KMeansIVF.appendIndex(batch, "vec_id", "embedding", idxA, "b1")

    // reference index: the union assigned to the same centroid generation
    // in one shot (what a zero-drift from-scratch rebuild that kept the
    // fit would produce)
    val idxB = freshIdx("b")
    val u = e.select(col("vec_id").as("neighbor_id"),
      VectorOps.asDouble(col("embedding")).as("cv"))
    KMeansIVF.assignBuckets(u, cents)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$idxB/data")
    val json = cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idxB/centroids.json"), json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idxB/_ready"), "1")

    val q = e.filter(col("vec_id") < 10)
    val got = rows(KMeansIVF.indexTopK(q, idxA, "vec_id", "embedding", k = 3, nprobe = 2))
    val want = rows(KMeansIVF.indexTopK(q, idxB, "vec_id", "embedding", k = 3, nprobe = 2))
    assert(got == want, "append tree must serve exactly the no-refit union index")
  }

  test("an append without its _done marker is invisible; retry wipes and converges") {
    val idx = freshIdx("crash")
    KMeansIVF.writeIndex(base, "vec_id", "embedding", idx, sampleCap = 100)
    val q = e.filter(col("vec_id") < 6)
    val before = rows(KMeansIVF.indexTopK(q, idx, "vec_id", "embedding", k = 3, nprobe = 2))

    // simulate a crash mid-append: data staged, no marker
    val partial = new java.io.File(s"$idx/appends/bx/data/bucket=0")
    assert(partial.mkdirs())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx/appends/bx/data/bucket=0/garbage.txt"), "not parquet")
    assert(rows(KMeansIVF.indexTopK(q, idx, "vec_id", "embedding", k = 3, nprobe = 2))
      == before, "uncommitted append must not be read")

    // retry with the same batchId: partial tree wiped, append commits
    val r = KMeansIVF.appendIndex(batch, "vec_id", "embedding", idx, "bx")
    assert(r.nBatch == batch.count())
    assert(new java.io.File(s"$idx/appends/bx/_done").exists())
    val after = KMeansIVF.indexTopK(q, idx, "vec_id", "embedding", k = 3, nprobe = 10)
    assert(after.count() > 0)
  }

  test("committed-append replay is a no-op returning the original verdict") {
    val idx = freshIdx("idem")
    KMeansIVF.writeIndex(base, "vec_id", "embedding", idx, sampleCap = 100)
    val half = batch.filter(col("vec_id") % 4 === 1)
    val rest = batch.filter(col("vec_id") % 4 === 3)
    val r1 = KMeansIVF.appendIndex(half, "vec_id", "embedding", idx, "b1")
    // Files.walk streams hold an open fd until closed (the q102 lesson)
    def treeSize(): Long = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
      try st.count() finally st.close()
    }
    val filesBefore = treeSize()
    val r2 = KMeansIVF.appendIndex(half, "vec_id", "embedding", idx, "b1")
    assert(r1 == r2, "replay must return the identical verdict")
    assert(filesBefore == treeSize(), "replay must write nothing")
    // the ORIGINAL verdict must survive LATER appends too — a retry after
    // b2 committed must not recompute against the grown baseline (the
    // rebuild decision could flip on an at-least-once runner)
    KMeansIVF.appendIndex(rest, "vec_id", "embedding", idx, "b2")
    val r3 = KMeansIVF.appendIndex(half, "vec_id", "embedding", idx, "b1")
    assert(r1 == r3, "replay after later appends must still return b1's verdict")
  }

  test("rebuild refuses while an append holds the lock (and vice versa)") {
    val idx = freshIdx("lockx")
    KMeansIVF.writeIndex(base, "vec_id", "embedding", idx, sampleCap = 100)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$idx/append.lock"))
    val e1 = intercept[IllegalStateException] {
      KMeansIVF.writeIndex(base, "vec_id", "embedding", idx, sampleCap = 100)
    }
    assert(e1.getMessage.contains("append.lock"))
    val e2 = intercept[IllegalStateException] {
      KMeansIVF.appendIndex(batch, "vec_id", "embedding", idx, "b1")
    }
    assert(e2.getMessage.contains("append.lock"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx/append.lock"))
    KMeansIVF.writeIndex(base, "vec_id", "embedding", idx, sampleCap = 100)
  }

  test("rival append (live lock) and missing stats sidecar both refuse loudly") {
    val idx = freshIdx("guard")
    KMeansIVF.writeIndex(base, "vec_id", "embedding", idx, sampleCap = 100)
    val lock = java.nio.file.Paths.get(s"$idx/append.lock")
    java.nio.file.Files.createFile(lock)
    val ex = intercept[IllegalStateException] {
      KMeansIVF.appendIndex(batch, "vec_id", "embedding", idx, "b1")
    }
    assert(ex.getMessage.contains("append.lock"))
    java.nio.file.Files.delete(lock)

    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx/stats.json"))
    val ex2 = intercept[IllegalArgumentException] {
      KMeansIVF.appendIndex(batch, "vec_id", "embedding", idx, "b1")
    }
    assert(ex2.getMessage.contains("stats"))
  }

  test("a rebuild clears the previous centroid generation's appends") {
    val idx = freshIdx("rebuild")
    KMeansIVF.writeIndex(base, "vec_id", "embedding", idx, sampleCap = 100)
    KMeansIVF.appendIndex(batch, "vec_id", "embedding", idx, "b1")
    assert(new java.io.File(s"$idx/appends/b1/_done").exists())
    KMeansIVF.writeIndex(e, "vec_id", "embedding", idx, sampleCap = 100)
    assert(!new java.io.File(s"$idx/appends").exists(),
      "appends assigned against the old centroids must not survive a rebuild")
    // and the index now serves the full corpus from data/ alone
    val q = e.filter(col("vec_id") < 4)
    assert(KMeansIVF.indexTopK(q, idx, "vec_id", "embedding", k = 3, nprobe = 10).count() > 0)
  }

  test("compactAppends: the fresh index serves identical probes, stats absorb fragments") {
    val idx = freshIdx("cmp")
    KMeansIVF.writeIndex(base, "vec_id", "embedding", idx, sampleCap = 100)
    KMeansIVF.appendIndex(batch.filter(col("vec_id") % 4 === 1),
      "vec_id", "embedding", idx, "b1")
    KMeansIVF.appendIndex(batch.filter(col("vec_id") % 4 === 3),
      "vec_id", "embedding", idx, "b2")
    val out = freshIdx("cmpout")
    KMeansIVF.compactAppends(spark, idx, out)
    assert(!new java.io.File(s"$out/appends").exists())
    val q = e.filter(col("vec_id") < 10)
    val before = rows(KMeansIVF.indexTopK(q, idx, "vec_id", "embedding", k = 3, nprobe = 2))
    val after = rows(KMeansIVF.indexTopK(q, out, "vec_id", "embedding", k = 3, nprobe = 2))
    assert(after == before, "compaction must not change any probe result")
    // drift baselines carry forward exactly: the SAME new batch appended
    // to both trees yields the SAME verdict (out's base stats == idx's
    // base + fragments)
    val probeBatch = base.select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val rIdx = KMeansIVF.appendIndex(probeBatch, "vec_id", "embedding", idx, "b3")
    val rOut = KMeansIVF.appendIndex(probeBatch, "vec_id", "embedding", out, "b3")
    assert(rIdx == rOut, s"absorbed stats must equal base+fragments: $rIdx vs $rOut")
  }

  test("a crashed rebuild (no _ready) is refused by every read path") {
    val idx = freshIdx("noready")
    KMeansIVF.writeIndex(base, "vec_id", "embedding", idx, sampleCap = 100)
    // simulate the crash window between the data overwrite and the
    // centroids write: readiness revoked, sidecars possibly stale
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx/_ready"))
    val q = e.filter(col("vec_id") < 4)
    val ex = intercept[IllegalArgumentException] {
      KMeansIVF.indexTopK(q, idx, "vec_id", "embedding", k = 3, nprobe = 2)
    }
    assert(ex.getMessage.contains("_ready"))
    // compaction must not launder the unready source into a ready target
    val out = freshIdx("noready_out")
    val exC = intercept[IllegalArgumentException] {
      KMeansIVF.compactAppends(spark, idx, out)
    }
    assert(exC.getMessage.contains("_ready"))
    assert(!new java.io.File(s"$out/_ready").exists(), "the target must not be stamped ready")
    assert(!new java.io.File(s"$idx/append.lock").exists(), "the refusal must release the lock")
    // a completed rebuild restores service
    KMeansIVF.writeIndex(base, "vec_id", "embedding", idx, sampleCap = 100)
    assert(KMeansIVF.indexTopK(q, idx, "vec_id", "embedding", k = 3, nprobe = 2).count() > 0)
  }

  test("compactAppends refuses a target equal to or nested in the source (and vice versa)") {
    val idx = freshIdx("cmpguard")
    KMeansIVF.writeIndex(base, "vec_id", "embedding", idx, sampleCap = 100)
    for (bad <- Seq(idx, s"$idx/sub", s"$idx/..")) {
      val ex = intercept[IllegalArgumentException] {
        KMeansIVF.compactAppends(spark, idx, bad)
      }
      assert(ex.getMessage.contains("disjoint"), s"target $bad must be refused")
    }
    // and the refusal must not leave the lock behind
    assert(!new java.io.File(s"$idx/append.lock").exists())
  }

  test("drift gate: iid batch passes, distribution-shifted batch flags rebuild") {
    val idx = freshIdx("drift")
    KMeansIVF.writeIndex(base, "vec_id", "embedding", idx, sampleCap = 100)
    val iid = KMeansIVF.appendIndex(batch, "vec_id", "embedding", idx, "iid")
    assert(!iid.rebuild,
      s"iid batch must pass the gate (generalization gap only), got $iid")
    assert(iid.driftBp > 5000 && iid.driftBp < 11000, s"gap out of band: $iid")

    // a genuine distribution shift needs data with real cluster structure
    // (the corpus embeddings' held-out mean already sits at the chance
    // level — max-of-10 random cosines — so NO geometric shift of them
    // can fall much further): synthetic base = 3 tight one-hot clusters,
    // shifted batch = clusters on DIFFERENT axes with only a 5% residual
    // on the old ones — assigned cosines collapse to ~0.05 and the ratio
    // crosses the halving cut decisively
    import spark.implicits._
    def oneHot(hot: Map[Int, Double]): Seq[Double] =
      (0 until 8).map(i => hot.getOrElse(i, 0.0))
    val synthBase = (0L until 300L).map(id =>
      (id, oneHot(Map((id % 3).toInt -> 1.0)))).toDF("vec_id", "embedding")
    val synthShift = (300L until 600L).map(id =>
      (id, oneHot(Map((id % 3).toInt -> 0.05, (4 + (id % 3)).toInt -> 1.0))))
      .toDF("vec_id", "embedding")
    val idx2 = freshIdx("drift2")
    KMeansIVF.writeIndex(synthBase, "vec_id", "embedding", idx2,
      nClusters = 3, sampleCap = 300)
    val bad = KMeansIVF.appendIndex(synthShift, "vec_id", "embedding", idx2, "shift")
    assert(bad.rebuild && bad.driftBp < 5000,
      s"shifted batch must flag rebuild, got $bad")
  }
}
