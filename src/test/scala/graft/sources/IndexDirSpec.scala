package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.TextHash
import graft.operators.{AudioDedup, IvfPq, KMeansIVF, MinHashDedup, Multimodal, NswGraph}

/** The shared index-directory protocol ([[IndexDir]]) exercised through
  * every persisted-index family. */
class IndexDirSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `c` recomputed so that every row's evaluation throws (ids are
    * non-negative) — a data write that fails mid-rebuild, after the
    * protocol has revoked `_ready`. */
  private def failing(df: DataFrame, id: String, c: String): DataFrame =
    df.withColumn(c, when(col(id) >= 0,
      raise_error(lit("injected write failure"))).otherwise(col(c)))

  private lazy val emb = (0L until 200L).map(id =>
    (id, (0 until 16).map(d => math.sin((id + 1) * (d + 1) * 0.37)))).toDF("vec_id", "embedding")
  private lazy val queries = emb.filter(col("vec_id") < 6)
  private lazy val docs = (0 until 12).map(i => (i.toLong, s"text number $i " + ("w " * i)))
    .toDF("doc_id", "text")
  private def shingles = graft.functions.VectorExpressions
    .wordShingleHashes(col("text"), 3, TextHash.P)
  private lazy val fps = AudioDedup.fingerprints(
    Multimodal.withWavPayloadScaled((0L until 16L).toDF("doc_id"), "doc_id"),
    "doc_id", "payload")
  private val lshCfg = MinHashDedup.Config(numHashes = 16, bands = 8)
  private val nsw = NswGraph.Params(
    hubCap = 32, m = 4, beamWidth = 3, rounds = 3, nprobe = 4, nEntries = 4)

  // family -> (write the given input to dir, the input, the failing input,
  //            probe dir)
  private lazy val families: Seq[(String, (DataFrame, String) => Unit, DataFrame,
      DataFrame, String => Unit)] = Seq(
    ("LshIndex", (df, d) => LshIndex.write(df, "doc_id", shingles, d, lshCfg, nParts = 4),
      docs, failing(docs, "doc_id", "text"),
      d => LshIndex.probe(spark, docs, "doc_id", shingles, d, lshCfg).collect()),
    ("HammingIndex", (df, d) => HammingIndex.write(df, "id", "peak_hash", d, bits = 56, nParts = 4),
      fps, failing(fps, "id", "peak_hash"),
      d => HammingIndex.probe(spark, fps, "id", "peak_hash", d).collect()),
    ("KMeansIVF", (df, d) => { KMeansIVF.writeIndex(df, "vec_id", "embedding", d, sampleCap = 100); () },
      emb, failing(emb, "vec_id", "embedding"),
      d => KMeansIVF.indexTopK(queries, d, "vec_id", "embedding", k = 3, nprobe = 2).collect()),
    ("IvfPq", (df, d) => { IvfPq.writeIndex(df, "vec_id", "embedding", d, ivfSampleCap = 100); () },
      emb, failing(emb, "vec_id", "embedding"),
      d => IvfPq.probeTopK(queries, emb, d, "vec_id", "embedding", k = 3, nprobe = 2,
        shortlist = 10).collect()),
    ("NswGraph", (df, d) => { NswGraph.writeIndex(df, "vec_id", "embedding", d, nsw); () },
      emb, failing(emb, "vec_id", "embedding"),
      d => NswGraph.indexSearch(queries, d, "vec_id", "embedding", k = 3, nsw).collect()))

  test("a rebuild that throws mid-write leaves no _ready and no lock; a clean write restores service") {
    for ((name, write, good, bad, probe) <- families) {
      val dir = Files.createTempDirectory(s"idxdir_$name").toString
      write(good, dir)
      probe(dir)
      intercept[Exception](write(bad, dir))
      assert(!Files.exists(Paths.get(dir, "_ready")), s"$name: a failed rebuild must revoke _ready")
      assert(!Files.exists(Paths.get(dir, "append.lock")), s"$name: a failed rebuild must release the lock")
      val ex = intercept[IllegalArgumentException](probe(dir))
      assert(ex.getMessage.contains("_ready"), s"$name: ${ex.getMessage}")
      write(good, dir)
      probe(dir)
      spark.catalog.clearCache()
      graft.TempDirs.deleteRecursively(new java.io.File(dir))
    }
  }

  test("append verdict sidecars keep each family's field names") {
    val d = Files.createTempDirectory("idxdir_result")
    val micro = KMeansIVF.AppendResult(10, 2, 900, 150, 8333, rebuild = false)
    IndexDir.writeResult(d.resolve("a.json"), "sumMicro", micro)
    assert(Files.readString(d.resolve("a.json")) ==
      """{"nPrev":10,"nBatch":2,"prevSumMicro":900,"batchSumMicro":150,"driftBp":8333,"rebuild":false}""")
    assert(IndexDir.readResult(d.resolve("a.json"), "sumMicro", KMeansIVF.AppendResult) == micro)
    val err = IvfPq.AppendResult(10, 2, 0, 7, 350000, rebuild = true)
    IndexDir.writeResult(d.resolve("b.json"), "sumErr", err)
    assert(Files.readString(d.resolve("b.json")) ==
      """{"nPrev":10,"nBatch":2,"prevSumErr":0,"batchSumErr":7,"driftBp":350000,"rebuild":true}""")
    assert(IndexDir.readResult(d.resolve("b.json"), "sumErr", IvfPq.AppendResult) == err)
  }
}
