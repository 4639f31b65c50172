package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Sliding-window KMV distinct sketches: the streaming run must equal the
  * batch run of the SAME plan under arbitrary micro-batch slicing (the
  * sketch is a set — union + trim is order-insensitive), and estimates
  * must be exact below the sketch capacity. */
class StreamingDistinctWindowsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val slideUs = 900000000L // 15 min
  private val base = 1700000000000000L // epoch µs, slide-aligned enough

  // events: 500 rows, ids with heavy repeats, ts spread over ~3 h
  private def events: Seq[(Timestamp, Long)] = {
    val rnd = new scala.util.Random(5)
    (0 until 500).map { i =>
      val us = base + rnd.nextInt(3 * 3600) * 1000000L
      (new Timestamp(us / 1000), (rnd.nextInt(90) + 1).toLong)
    }
  }

  private def run(df: org.apache.spark.sql.DataFrame, k: Int) =
    StreamingDistinctWindows.sketchPerWindow(df, "ts", "user_id", slideUs, 4, k)

  test("streaming (random slicing) == batch, and small windows are exact") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val q = run(mem.toDF().toDF("ts", "user_id"), 32)
      .writeStream.outputMode("complete").format("memory")
      .queryName("kmv_windows").start()
    try {
      val rnd = new scala.util.Random(13)
      var rest = events
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(120)
        mem.addData(rest.take(n): _*)
        q.processAllAvailable()
        rest = rest.drop(n)
      }
      val streamed = spark.table("kmv_windows")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toSet
      val batch = run(events.toDF("ts", "user_id"), 32)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("watermarked APPEND mode is legal and finalizes passed windows") {
    // grouping on a derived epoch long (instead of window()) would strip
    // the event-time attribute: append mode is rejected at start() and
    // state grows forever — this pins the fixed behavior
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val q = run(mem.toDF().toDF("ts", "user_id")
        .withWatermark("ts", "30 minutes"), 32)
      .writeStream.outputMode("append").format("memory")
      .queryName("kmv_windows_append").start()
    try {
      mem.addData((new Timestamp(base / 1000), 1L), (new Timestamp(base / 1000 + 1000), 2L))
      q.processAllAvailable()
      // advance event time far past the first windows + watermark, twice
      // (the watermark computed at batch end applies to the NEXT batch)
      val far = base + 12L * 3600 * 1000000
      mem.addData((new Timestamp(far / 1000), 3L))
      q.processAllAvailable()
      mem.addData((new Timestamp(far / 1000 + 1000), 4L))
      q.processAllAvailable()
      val rows = spark.table("kmv_windows_append").collect()
      assert(rows.nonEmpty, "passed windows must finalize under append mode")
      assert(rows.forall(_.getLong(3) >= 1L))
    } finally q.stop()
  }

  test("below-capacity estimates are the exact distinct counts") {
    val df = events.toDF("ts", "user_id")
    val out = run(df, 1024).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // k = 1024 > 90 possible ids: every sketch holds its full set
    val exact = df
      .select(unix_micros(col("ts")).as("us"), col("user_id"))
      .select(explode(sequence(lit(0), lit(3))).as("i"), col("us"), col("user_id"))
      .select(expr(s"(us div $slideUs - i) * $slideUs").as("ws"), col("user_id"))
      .groupBy("ws").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === exact)
  }

  test("estimate is within 3/sqrt(k) of truth at k = 32 (planted 90-id universe)") {
    val out = run(events.toDF("ts", "user_id"), 32).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val exact = events.toDF("ts", "user_id")
      .select(unix_micros(col("ts")).as("us"), col("user_id"))
      .select(explode(sequence(lit(0), lit(3))).as("i"), col("us"), col("user_id"))
      .select(expr(s"(us div $slideUs - i) * $slideUs").as("ws"), col("user_id"))
      .groupBy("ws").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((ws, nSketch, est) <- out) {
      val truth = exact(ws)
      if (nSketch < 32) assert(est === truth, s"window $ws must be exact")
      else assert(math.abs(est - truth) <= truth, // KMV rse ~ 1/sqrt(k-2) ≈ 0.18; 3σ generous
        s"window $ws: est $est vs truth $truth")
    }
  }

  test("bad window or sketch parameters are rejected before any plan is built") {
    val df = events.toDF("ts", "user_id")
    def call(slide: Long, n: Int, k: Int) =
      StreamingDistinctWindows.sketchPerWindow(df, "ts", "user_id", slide, n, k)
    intercept[IllegalArgumentException](call(0L, 4, 32))
    intercept[IllegalArgumentException](call(slideUs, 0, 32))
    intercept[IllegalArgumentException](call(slideUs, 4, 1))
    // (k - 1) * M must fit in a long: M = 2^53, so k = 1025 overflows
    val e = intercept[IllegalArgumentException](call(slideUs, 4, 1025))
    assert(e.getMessage.contains("overflows"), e.getMessage)
    assert(call(slideUs, 4, 1024).columns.toSeq ==
      Seq("ws_us", "n_sketch", "kth_min", "est_distinct"))
  }

  test("nSlides = 1 is a tumbling window: exact per-slot distinct counts below capacity") {
    val out = StreamingDistinctWindows
      .sketchPerWindow(events.toDF("ts", "user_id"), "ts", "user_id", slideUs, 1, 256)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val want = events.groupBy { case (t, _) => t.getTime * 1000L / slideUs * slideUs }
      .map { case (ws, es) => ws -> es.map(_._2).distinct.size.toLong }
    assert(out.keySet == want.keySet)
    for ((ws, n) <- want) assert(out(ws) == ((n, n)), s"slot $ws")
  }
}
