package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StreamingAggregatesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("tumbling windows finalize past the watermark; late data dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamingAggregates
      .tumbling(stream, windowLength = "1 hour", watermark = Some("30 minutes"))
      .writeStream.outputMode("append").format("memory").queryName("tumb_out").start()
    try {
      mem.addData((ts(5), "click", 1.0), (ts(20), "click", 2.0), (ts(70), "view", 5.0))
      q.processAllAvailable()
      // advance watermark far beyond hour 0 and try to sneak in a LATE click
      mem.addData((ts(600), "view", 7.0))
      q.processAllAvailable()
      mem.addData((ts(6), "click", 100.0)) // late: watermark is way past hour 0
      q.processAllAvailable()
      mem.addData((ts(1200), "view", 0.0)) // flush hour-10 window
      q.processAllAvailable()
      val rows = spark.table("tumb_out")
        .collect().map(r => (r.getLong(0) / 3600000000L, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows.contains((0L, "click", 2L, 3.0)), s"hour-0 clicks without the late row: $rows")
      assert(!rows.exists { case (h, t, _, v) => h == 0 && t == "click" && v == 103.0 },
        "late event must have been dropped")
    } finally q.stop()
  }

  test("OHLC bars: streaming under random slicing == batch (order-insensitive aggs)") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    // shuffled arrival order: within-window order must not matter
    val events = rnd.shuffle((0 until 400).map { i =>
      (ts(rnd.nextInt(360)), i.toLong, (rnd.nextInt(40000) - 10000) / 100.0)
    })
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val q = StreamingAggregates
      .ohlcBars(mem.toDF().toDF("ts", "event_id", "value"), watermark = None)
      .writeStream.outputMode("complete").format("memory")
      .queryName("ohlc_stream").start()
    try {
      var rest = events
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(90)
        mem.addData(rest.take(n): _*)
        q.processAllAvailable()
        rest = rest.drop(n)
      }
      val streamed = spark.table("ohlc_stream").collect().map(_.toSeq).toSet
      val batch = StreamingAggregates
        .ohlcBars(events.toDF("ts", "event_id", "value"), watermark = None)
        .collect().map(_.toSeq).toSet
      assert(streamed === batch)
      assert(batch.size === 6) // 6 hours of data
      // open/close sanity vs a direct recomputation on one window
      val h0 = events.filter(_._1.getTime < 3600000L).sortBy(e => (e._1.getTime, e._2))
      val row0 = batch.find(_.head == 0L).get
      assert(row0(1) === math.round(h0.head._3 * 100))
      assert(row0(4) === math.round(h0.last._3 * 100))
    } finally q.stop()
  }

  test("binned histogram percentiles: streaming under random slicing == batch; bracket law") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val events = rnd.shuffle((0 until 500).map { i =>
      (ts(rnd.nextInt(720)), rnd.nextInt(56000) / 100.0)
    })
    val mem = MemoryStream[(Timestamp, Double)]
    val q = StreamingAggregates
      .binnedHistogram(mem.toDF().toDF("ts", "value"),
        windowLength = "6 hours", watermark = None)
      .writeStream.outputMode("complete").format("memory")
      .queryName("hist_stream").start()
    try {
      var rest = events
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(120)
        mem.addData(rest.take(n): _*)
        q.processAllAvailable()
        rest = rest.drop(n)
      }
      val batchBins = StreamingAggregates.binnedHistogram(
        events.toDF("ts", "value"), windowLength = "6 hours", watermark = None)
      assert(spark.table("hist_stream").collect().map(_.toSeq).toSet ===
        batchBins.collect().map(_.toSeq).toSet,
        "windowed bin counts are order-insensitive => stream == batch")
      // percentile extraction on the SINK equals the batch-side extraction
      val fromSink = StreamingAggregates
        .percentileFromBins(spark.table("hist_stream"), Seq(50, 95))
        .collect().map(_.toSeq).toSet
      val fromBatch = StreamingAggregates
        .percentileFromBins(batchBins, Seq(50, 95)).collect().map(_.toSeq).toSet
      assert(fromSink === fromBatch)
      // bracket law: the reported bin's cents range must contain the exact
      // per-window percentile value
      val byWin = events.groupBy(e => e._1.getTime / 21600000L * 21600000000L)
      for (row <- fromBatch) {
        val Seq(ws: Long, n: Long, p50b: Long, p50lo: Long, p95b: Long, p95lo: Long) = row
        val vals = byWin(ws).map(e => math.round(e._2 * 100)).sorted
        assert(n == vals.length.toLong)
        def check(q: Int, bin: Long, lo: Long): Unit = {
          val exact = vals((q * vals.length + 99) / 100 - 1)
          assert(exact >= lo && (bin == 127 || exact < lo + 500),
            s"q$q: exact $exact outside bin [$lo, ${lo + 500})")
        }
        check(50, p50b, p50lo); check(95, p95b, p95lo)
      }
    } finally q.stop()
  }

  test("tumbling batch form equals a per-(hour, key) count and exact-cents sum") {
    val rnd = new scala.util.Random(3)
    val events = (0 until 300).map { _ =>
      (ts(rnd.nextInt(600)), Seq("click", "view", "buy")(rnd.nextInt(3)),
        rnd.nextInt(100000) / 100.0)
    }
    val got = StreamingAggregates
      .tumbling(events.toDF("ts", "event_type", "value"), watermark = None)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val hourUs = 3600L * 1000000L
    val want = events.groupBy { case (t, k, _) => (t.getTime * 1000L / hourUs * hourUs, k) }
      .map { case ((h, k), es) =>
        (h, k, es.size.toLong, es.map(e => math.round(e._3 * 100)).sum.toDouble / 100)
      }.toSet
    assert(got == want)
  }

  test("tumbling without a watermark: complete-mode stream under random slicing == batch") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(29)
    val events = (0 until 250).map { _ =>
      (ts(rnd.nextInt(300)), Seq("a", "b")(rnd.nextInt(2)), rnd.nextInt(5000) / 100.0)
    }
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingAggregates
      .tumbling(mem.toDF().toDF("ts", "event_type", "value"), watermark = None)
      .writeStream.outputMode("complete").format("memory").queryName("tumb_complete").start()
    try {
      var rest = events
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(60)
        mem.addData(rest.take(n): _*)
        q.processAllAvailable()
        rest = rest.drop(n)
      }
      val streamed = spark.table("tumb_complete").collect().map(_.toSeq).toSet
      val batch = StreamingAggregates
        .tumbling(events.toDF("ts", "event_type", "value"), watermark = None)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("OHLC bars skip null values and break equal-timestamp opens and closes by id") {
    val events = Seq[(Timestamp, Long, Option[Double])](
      (ts(0), 0L, None),        // earliest row, but no value: not the open
      (ts(10), 5L, Some(1.0)),
      (ts(10), 2L, Some(3.0)),  // same instant as id 5, smaller id: the open
      (ts(50), 1L, Some(2.0)),
      (ts(50), 9L, Some(4.0)))  // same instant as id 1, larger id: the close
    val rows = StreamingAggregates
      .ohlcBars(events.toDF("ts", "event_id", "value"), watermark = None)
      .collect().map(_.toSeq)
    assert(rows.toSeq == Seq(Seq(0L, 300L, 400L, 100L, 400L, 4L, 1000L)))
  }

  test("binned histogram clamps past the last bin and counts every non-null row once") {
    val events = Seq[(Timestamp, Option[Double])](
      (ts(1), Some(1.0)), (ts(2), Some(7.5)), (ts(3), Some(100.0)), (ts(4), Some(19.99)),
      (ts(5), None))
    val bins = StreamingAggregates.binnedHistogram(events.toDF("ts", "value"),
      binWidthCents = 500L, nBins = 4, watermark = None)
    assert(bins.collect().map(r => (r.getLong(1), r.getLong(2))).toSet ==
      Set((0L, 1L), (1L, 1L), (3L, 2L)))
    val p = StreamingAggregates.percentileFromBins(bins, Seq(50, 100), binWidthCents = 500L)
      .collect().map(_.toSeq)
    // n = 4: p50 is rank 2 (bin 1), p100 is rank 4 (the clamped bin 3)
    assert(p.toSeq == Seq(Seq(0L, 4L, 1L, 500L, 3L, 1500L)))
  }
}
