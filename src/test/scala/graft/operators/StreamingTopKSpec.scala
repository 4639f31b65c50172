package graft.operators

import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StreamingTopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Feed `stream` in `slices` chunks; return the latest summary per
    * shard after the last batch. */
  private def run(stream: Seq[String], k: Int, buckets: Int, slices: Int,
                  name: String): Map[Int, StreamingTopK.ShardSummary] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamingTopK.summaries(mem.toDF().withColumnRenamed("value", "item"),
        "item", k, buckets)
      .writeStream.outputMode("update").format("memory").queryName(name).start()
    try {
      stream.grouped(math.max(1, math.ceil(stream.size.toDouble / slices).toInt))
        .foreach { chunk => mem.addData(chunk: _*); q.processAllAvailable() }
      // Update mode appends every re-emission; nSeen is monotone per
      // shard, so the latest row is the max-nSeen one
      spark.table(name).as[StreamingTopK.ShardSummary].collect()
        .groupBy(_.bucket).view.mapValues(_.maxBy(_.nSeen)).toMap
    } finally q.stop()
  }

  private def shardOf(item: String, buckets: Int): Int = {
    // replay the router through the same expression
    import org.apache.spark.sql.functions._
    StreamingTopK.withBucket(Seq(item).toDF("item"), "item", buckets)
      .head().getInt(0)
  }

  test("per-shard MG guarantees hold after any micro-batch slicing") {
    val rng = new Random(31337)
    val vocab = (1 to 40).map(i => s"item-$i")
    val stream = (1 to 800).map { _ =>
      vocab(math.min(vocab.size - 1, (math.abs(rng.nextGaussian()) * 12).toInt))
    }
    val buckets = 4; val k = 5
    val latest = run(stream, k, buckets, slices = 7, name = "stk_a")
    // exact per-item counts and per-shard stream lengths
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val shard = vocab.map(v => v -> shardOf(v, buckets)).toMap
    val nShard = stream.groupBy(shard).view.mapValues(_.size.toLong).toMap
    latest.foreach { case (b, s) =>
      assert(s.nSeen == nShard.getOrElse(b, 0L))
      assert(s.entries.size <= k)
      s.entries.foreach { e =>
        val cnt = exact(e.item)
        assert(e.est <= cnt, s"overcount ${e.item}")
        assert((cnt - e.est) * (k + 1) <= s.nSeen,
          s"undercount past n_shard/(k+1): ${e.item} est=${e.est} cnt=$cnt n=${s.nSeen}")
      }
    }
    // every item heavy WITHIN its shard is present
    exact.foreach { case (item, cnt) =>
      val b = shard(item)
      if (cnt * (k + 1) > nShard(b))
        assert(latest(b).entries.exists(_.item == item), s"missing heavy $item")
    }
    // merged view: disjoint shards concatenate; guarantee carries over
    val m = StreamingTopK.merged(latest.values.toSeq)
    assert(m.map(_.item).distinct.size == m.size)
  }

  test("k >= per-shard distinct: exact counts, identical under different slicings") {
    val stream = Seq.fill(30)("a") ++ Seq.fill(20)("b") ++ Seq.fill(9)("c") ++ Seq.fill(4)("d")
    val shuffled = new Random(5).shuffle(stream)
    val a = run(shuffled, k = 16, buckets = 2, slices = 3, name = "stk_b1")
    val b = run(shuffled, k = 16, buckets = 2, slices = 9, name = "stk_b2")
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (latest <- Seq(a, b); (_, s) <- latest; e <- s.entries)
      assert(e.est == exact(e.item))
    assert(a.view.mapValues(_.entries.toSet).toMap == b.view.mapValues(_.entries.toSet).toMap)
  }

  test("withBucket routes every item to one shard in [0, buckets), whatever the partitioning") {
    val items = (0 until 500).map(i => s"w$i")
    def route(df: org.apache.spark.sql.DataFrame) =
      StreamingTopK.withBucket(df, "item", 7).as[(Int, String)].collect()
        .map { case (b, i) => i -> b }.toMap
    val one = route(items.toDF("item").repartition(1))
    val many = route(items.toDF("item").repartition(9))
    assert(one == many)
    assert(one.size == items.size)
    assert(one.values.forall(b => b >= 0 && b < 7))
    assert(one.values.toSet.size == 7, "500 items should touch every shard")
  }

  test("batch summaries skip null items and still meet the per-shard bound") {
    val rng = new Random(77)
    val stream = (1 to 600).map { _ =>
      if (rng.nextInt(10) == 0) null else s"i${(math.abs(rng.nextGaussian()) * 8).toInt}"
    }
    val k = 4; val buckets = 3
    val latest = StreamingTopK.summaries(stream.toDF("item"), "item", k, buckets)
      .collect().toSeq
    val kept = stream.filter(_ != null)
    assert(latest.map(_.nSeen).sum == kept.size.toLong, "nulls must not be counted")
    assert(latest.map(_.bucket).distinct.size == latest.size, "one summary per shard")
    val exact = kept.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (s <- latest; e <- s.entries) {
      assert(e.item != null)
      assert(e.est <= exact(e.item))
      assert((exact(e.item) - e.est) * (k + 1) <= s.nSeen)
    }
  }

  test("merged lists each item once, ordered by estimate then item") {
    val latest = Seq(
      StreamingTopK.ShardSummary(0, 10L,
        Seq(StreamingTopK.Entry("b", 4L), StreamingTopK.Entry("a", 4L))),
      StreamingTopK.ShardSummary(1, 9L,
        Seq(StreamingTopK.Entry("z", 7L), StreamingTopK.Entry("c", 1L))))
    assert(StreamingTopK.merged(latest).map(e => (e.item, e.est)) ==
      Seq(("z", 7L), ("a", 4L), ("b", 4L), ("c", 1L)))
    assert(StreamingTopK.merged(Nil).isEmpty)
  }
}
